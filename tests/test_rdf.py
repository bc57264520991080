"""RDF layer tests (SURVEY.md §5.2 items 2-3): golden round-trip,
cleanup/rename/filter/enrich semantics, env-config quirks, property
tests for the URI filter and set-semantics union."""

from __future__ import annotations

import textwrap

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from muurschilderingendatabase_etl_spark.rdf import cleanup, config, transform
from muurschilderingendatabase_etl_spark.rdf.schema import (
    CEO_RIJKSMONUMENT,
    CEO_RIJKSMONUMENTNUMMER,
    RDF_TYPE,
    SDO_SAME_AS,
    TRIPLE_COLS,
    TRIPLES_SCHEMA,
    import_namespace_by_name,
)
from muurschilderingendatabase_etl_spark.rdf.source import (
    fetch_prefix_bindings,
    scan_paginated,
)
from muurschilderingendatabase_etl_spark.rdf.turtle import (
    parse_turtle_text,
    read_turtle,
    serialize_turtle,
    triples_only,
)

DCTERMS = "http://purl.org/dc/terms/"
SDO = "https://schema.org/"
OMEKA = "http://omeka.org/s/vocabs/o#"
ITEM = "https://muurschilderingendatabase.nl/item/"


def _parse(text: str) -> list[dict]:
    """parse_turtle_text's triples keyed by column name."""
    return [dict(zip(TRIPLE_COLS, t)) for t in parse_turtle_text(text)]


FIXTURE_TTL = textwrap.dedent(
    f"""\
    @prefix dcterms: <{DCTERMS}> .
    @prefix ceo: <https://linkeddata.cultureelerfgoed.nl/def/ceo#> .
    @prefix o: <{OMEKA}> .
    @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .

    <{ITEM}1> dcterms:title "Muurschildering Sint Joris"@nl ;
        o:is_public true ;
        rdf:type ceo:Rijksmonument ;
        ceo:rijksmonumentnummer "RM12345" .
    <{ITEM}2> dcterms:title "Fresco zonder type"@nl ;
        ceo:rijksmonumentnummer "RM67890" .
    <{ITEM}3> dcterms:created 1997 ;
        dcterms:extent 2.5 ;
        dcterms:description "multi\\nline \\"quoted\\"" .
    """
)


def _fixture_triples(spark):
    """FIXTURES.md §B row classes, built directly (garbage rows are not
    expressible as well-formed Turtle)."""
    rows = _parse(FIXTURE_TTL)
    extra = [
        # @context garbage (row class 2)
        {"s": "@context", "s_kind": "literal", "p": DCTERMS + "title",
         "o": "junk", "o_kind": "literal", "o_lang": None, "o_datatype": None},
        {"s": ITEM + "1", "s_kind": "iri", "p": DCTERMS + "relation",
         "o": '{"@context": "..."}', "o_kind": "literal", "o_lang": None,
         "o_datatype": None},
        # invalid-URI subject / object (row class 3)
        {"s": "not a uri", "s_kind": "iri", "p": DCTERMS + "title",
         "o": "x", "o_kind": "literal", "o_lang": None, "o_datatype": None},
        {"s": ITEM + "1", "s_kind": "iri", "p": DCTERMS + "relation",
         "o": "http://exa mple/bad", "o_kind": "iri", "o_lang": None,
         "o_datatype": None},
        # customvocab-typed object X + a triple referencing X (row class 4)
        {"s": "http://ex/vocabterm", "s_kind": "iri", "p": RDF_TYPE,
         "o": "http://ex/customvocab#Term", "o_kind": "iri", "o_lang": None,
         "o_datatype": None},
        {"s": ITEM + "1", "s_kind": "iri", "p": DCTERMS + "subject",
         "o": "http://ex/vocabterm", "o_kind": "iri", "o_lang": None,
         "o_datatype": None},
        # exact duplicate (row class 8)
        {"s": ITEM + "1", "s_kind": "iri", "p": DCTERMS + "title",
         "o": "Muurschildering Sint Joris", "o_kind": "literal",
         "o_lang": "nl", "o_datatype": None},
    ]
    data = [
        (r["s"], r["s_kind"], r["p"], r["o"], r["o_kind"], r.get("o_lang"), r.get("o_datatype"))
        for r in rows + extra
    ]
    return spark.createDataFrame(data, TRIPLES_SCHEMA)


def test_parse_turtle_basics():
    triples = _parse(FIXTURE_TTL)
    assert {"s": ITEM + "1", "s_kind": "iri", "p": RDF_TYPE,
            "o": CEO_RIJKSMONUMENT, "o_kind": "iri", "o_lang": None,
            "o_datatype": None} in triples
    title = next(t for t in triples if t["p"] == DCTERMS + "title" and t["s"] == ITEM + "1")
    assert title["o_lang"] == "nl"
    boolean = next(t for t in triples if t["p"] == OMEKA + "is_public")
    assert boolean["o"] == "true"
    assert boolean["o_datatype"].endswith("boolean")
    number = next(t for t in triples if t["p"] == DCTERMS + "created")
    assert number["o"] == "1997" and number["o_datatype"].endswith("integer")
    escaped = next(t for t in triples if t["p"] == DCTERMS + "description")
    assert escaped["o"] == 'multi\nline "quoted"'


def test_turtle_round_trip(spark, tmp_path):
    path = tmp_path / "fixture.ttl"
    path.write_text(FIXTURE_TTL, encoding="utf-8")
    parsed = read_turtle(spark, str(path))
    triples = triples_only(parsed)
    text = serialize_turtle(triples, {"dcterms": DCTERMS})
    reparsed = sorted(
        (t["s"], t["p"], t["o"], t["o_lang"], t["o_datatype"])
        for t in _parse(text)
    )
    original = sorted(
        (t["s"], t["p"], t["o"], t["o_lang"], t["o_datatype"])
        for t in _parse(FIXTURE_TTL)
    )
    assert reparsed == original
    # determinism: serializing twice is byte-identical (golden contract)
    assert text == serialize_turtle(triples, {"dcterms": DCTERMS})
    # prefix compaction happened
    assert "dcterms:title" in text


def test_serialize_turtle_size_guard(spark, tmp_path, monkeypatch):
    from muurschilderingendatabase_etl_spark.rdf import turtle

    path = tmp_path / "fixture.ttl"
    path.write_text(FIXTURE_TTL, encoding="utf-8")
    triples = triples_only(read_turtle(spark, str(path)))
    monkeypatch.setattr(turtle, "SERIALIZE_MAX_TRIPLES", 2)
    with pytest.raises(ValueError, match="write_turtle"):
        serialize_turtle(triples, {"dcterms": DCTERMS})
    # At/under the ceiling still serializes.
    n = triples.count()
    monkeypatch.setattr(turtle, "SERIALIZE_MAX_TRIPLES", n)
    assert serialize_turtle(triples, {"dcterms": DCTERMS})


def test_corrupt_quarantine(spark, tmp_path):
    bad = tmp_path / "bad.ttl"
    bad.write_text("this is ;;; not turtle <", encoding="utf-8")
    good = tmp_path / "good.ttl"
    good.write_text(f"<{ITEM}9> <{DCTERMS}title> \"ok\" .", encoding="utf-8")
    parsed = read_turtle(spark, [str(bad), str(good)])
    assert parsed.where("_corrupt IS NOT NULL").count() == 1
    assert triples_only(parsed).count() == 1


# Documents that end mid-statement: the parser must report them as
# malformed (ValueError, the quarantine signal), not run off the end of
# its token list.
TRUNCATED_TTL = [
    "<http://a> <http://b> <http://c> ;",
    "@prefix ex:",
    "<http://a> <http://b>",
    '<http://a> <http://b> "x"^^',
]


@pytest.mark.parametrize("text", TRUNCATED_TTL)
def test_truncated_turtle_raises_value_error(text):
    with pytest.raises(ValueError, match="unexpected end of input"):
        parse_turtle_text(text)


# Directives whose operands are the wrong kind of token: a string or a
# number is not a namespace IRI and an IRI is not a prefix name, so the
# page is malformed rather than silently bound to the wrong namespace.
BAD_DIRECTIVE_TTL = [
    '@prefix ex: "http://x/" . ex:a ex:b ex:c .',
    '@base "http://x/" . <a> <b> <c> .',
    "@prefix <http://y/> <http://x/> . <http://a> <http://b> <http://c> .",
    "PREFIX ex: 42 ex:a ex:b ex:c .",
]


@pytest.mark.parametrize("text", BAD_DIRECTIVE_TTL)
def test_bad_directive_raises_value_error(text):
    with pytest.raises(ValueError, match="expected"):
        parse_turtle_text(text)


def test_bad_directive_page_quarantined_by_scan(spark):
    pages = [f'<{ITEM}1> <{DCTERMS}title> "a" .', BAD_DIRECTIVE_TTL[0],
             f'<{ITEM}2> <{DCTERMS}title> "b" .']

    def fetcher(page: int) -> str:
        return pages[page - 1] if page <= len(pages) else ""

    parsed = scan_paginated(spark, fetcher)
    assert parsed.where("_corrupt IS NOT NULL").count() == 1
    assert {(r.s, r.o) for r in triples_only(parsed).collect()} == {
        (ITEM + "1", "a"), (ITEM + "2", "b"),
    }


def test_truncated_pages_quarantined_by_scan(spark):
    pages = [f'<{ITEM}1> <{DCTERMS}title> "a" .', *TRUNCATED_TTL,
             f'<{ITEM}2> <{DCTERMS}title> "b" .']

    def fetcher(page: int) -> str:
        return pages[page - 1] if page <= len(pages) else ""

    parsed = scan_paginated(spark, fetcher)
    corrupt = [r._corrupt for r in parsed.where("_corrupt IS NOT NULL").collect()]
    assert len(corrupt) == len(TRUNCATED_TTL)
    assert all("unexpected end of input" in c for c in corrupt)
    assert {(r.s, r.o) for r in triples_only(parsed).collect()} == {
        (ITEM + "1", "a"), (ITEM + "2", "b"),
    }


def test_cleanup_filters(spark):
    triples = _fixture_triples(spark)
    cleaned = cleanup.clean(triples)
    rows = {(r.s, r.p, r.o) for r in cleaned.collect()}
    # garbage gone
    assert not any("@context" in s or "@context" in o for s, _, o in rows)
    assert not any(s == "not a uri" for s, _, _ in rows)
    assert not any(o == "http://exa mple/bad" for _, _, o in rows)
    # customvocab-referencing triple gone (intended O4 semantics)
    assert (ITEM + "1", DCTERMS + "subject", "http://ex/vocabterm") not in rows
    # valid rows survive
    assert (ITEM + "1", CEO_RIJKSMONUMENTNUMMER, "RM12345") in rows


def test_enrichment_semi_join_and_same_as(spark):
    """Row class 7: sameAs derived only for subjects typed Rijksmonument;
    lookup key strips the RM prefix; stub fetcher, no network."""
    triples = cleanup.clean(_fixture_triples(spark))

    # key extraction: distinct + RM-prefix strip (executor-side fetcher
    # can't surface call logs to the driver, so assert on the key set)
    keys = sorted(r.key for r in transform.monument_keys(triples).collect())
    assert keys == ["12345", "67890"]

    def stub_fetcher(key: str) -> str:
        return f'<https://monuments.example/{key}> <{DCTERMS}identifier> "{key}" .'

    enriched = transform.enrich_with_rijksmonument_data(triples, stub_fetcher)
    rows = {(r.s, r.p, r.o) for r in enriched.collect()}
    # derived sameAs for the typed monument only
    assert (ITEM + "1", SDO_SAME_AS, "RM12345") in rows
    assert (ITEM + "2", SDO_SAME_AS, "RM67890") not in rows
    # enrichment triples unioned in, keys normalized (RM stripped)
    assert ("https://monuments.example/12345", DCTERMS + "identifier", "12345") in rows
    # item 2 lacks the Rijksmonument type row but its key is still
    # fetched (the reference fetches for every rijksmonumentnummer
    # triple; only sameAs is gated on the type, transform:104-107)
    assert ("https://monuments.example/67890", DCTERMS + "identifier", "67890") in rows


def test_apply_mapping_and_filter(spark):
    triples = cleanup.clean(_fixture_triples(spark))
    mapping = {DCTERMS + "title": SDO + "name"}
    renamed = transform.apply_mapping(triples, mapping)
    assert renamed.where(f"p = '{DCTERMS}title'").count() == 0
    assert renamed.where(f"p = '{SDO}name'").count() > 0
    # count preserved by rename
    assert renamed.count() == triples.count()

    filterlist = [OMEKA + "is_public"]
    assert transform.count_filtered(renamed, filterlist) == 1
    filtered = transform.apply_filter(renamed, filterlist)
    assert filtered.where(f"p = '{OMEKA}is_public'").count() == 0


def test_graph_union_set_semantics(spark):
    triples = _fixture_triples(spark)
    # fixture contains an exact duplicate title row
    unioned = transform.graph_union(triples, triples)
    key_counts = (
        unioned.groupBy("s", "p", "o").count().where("count > 1").count()
    )
    assert key_counts == 0
    # idempotence: union with self changes nothing after first dedup
    assert transform.graph_union(unioned, unioned).count() == unioned.count()


def test_paginated_source_early_stop(spark):
    pages = {
        1: f'<{ITEM}1> <{DCTERMS}title> "a" .',
        2: f'<{ITEM}2> <{DCTERMS}title> "b" .',
        3: "",  # empty page -> stop; page 4 must never be fetched
        4: None,
    }
    calls: list[int] = []

    def fetcher(page: int) -> str:
        calls.append(page)
        body = pages.get(page)
        assert body is not None, f"fetched past empty page: {page}"
        return body

    parsed = scan_paginated(spark, fetcher)
    assert calls == [1, 2, 3]
    assert triples_only(parsed).count() == 2


def test_paginated_source_ssl_tolerance(spark):
    import ssl

    def fetcher(page: int) -> str:
        if page == 2:
            raise ssl.SSLError("handshake failed")
        return f'<{ITEM}{page}> <{DCTERMS}title> "x" .'

    parsed = scan_paginated(spark, fetcher)  # must not raise (O8)
    assert triples_only(parsed).count() == 1


def _live_reader_page(base_url: str, page: int) -> list:
    """Rows the omeka_rest DataSource reader yields for one page,
    read in the driver."""
    from pyspark.sql.datasource import InputPartition

    from muurschilderingendatabase_etl_spark.rdf.datasource import OmekaRestReader

    reader = OmekaRestReader({"mode": "live", "base_url": base_url})
    return list(reader.read(InputPartition(page)))


@pytest.mark.parametrize(
    "base_url", ["https://example.org/omeka", "https://example.org/omeka/"]
)
def test_rest_reader_and_fetcher_request_same_url(monkeypatch, base_url):
    """The serial fetcher and the DataSource reader build one URL, with
    or without a trailing slash on the base."""
    import io
    import urllib.request

    from muurschilderingendatabase_etl_spark.rdf.source import http_page_fetcher

    body = f'<{ITEM}1> <{DCTERMS}title> "a" .'
    urls: list[str] = []

    def fake_urlopen(url, timeout):
        urls.append(url)
        return io.BytesIO(body.encode())

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    assert http_page_fetcher(base_url)(2) == body
    assert _live_reader_page(base_url, 2) == [(2, body)]
    want = "https://example.org/omeka/api/items?format=turtle&page=2&per_page=100"
    assert urls == [want, want]


def test_rest_reader_failed_page_yields_no_rows(monkeypatch):
    import urllib.request

    def fake_urlopen(url, timeout):
        raise OSError("connection refused")

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    assert _live_reader_page("https://example.org/omeka/", 1) == []


def test_prefix_bindings_backslash_strip():
    body = '{"@context": {"dcterms": "http:\\\\//purl.org/dc/terms/", "n": 3}}'
    assert fetch_prefix_bindings(body) == {"dcterms": "http://purl.org/dc/terms/"}


def test_env_filter_loader():
    env = {
        "FILTER_A": OMEKA + "is_public",
        "FILTER_B": "not a uri",
        "OTHER": "http://ignored.example/x",
    }
    assert config.get_filter_from_env(env) == [OMEKA + "is_public"]


def test_env_mapping_loader_quirks():
    env = {
        "MAP_DCTERMS_Title": "SDO.name",  # lowercased source local name
        "MAP_DCTERMS_date_created": "SDO.dateCreated",  # '_' preserved (intent)
        "MAP_NOPE_x": "SDO.y",  # unknown namespace -> skipped
        "MAP_DCTERMS_bad": "nodot",  # malformed target -> skipped
    }
    mapping = config.get_mapping_from_env(env)
    assert mapping == {
        DCTERMS + "title": SDO + "name",
        DCTERMS + "date_created": SDO + "dateCreated",
    }


def test_namespace_resolution():
    assert import_namespace_by_name("SDO") == SDO
    with pytest.raises(ValueError):
        import_namespace_by_name("NOT_A_NAMESPACE")


# --- property tests (SURVEY §5.2 item 3) ---------------------------------

_URI_OK = st.builds(
    lambda scheme, rest: f"{scheme}://{rest}",
    st.sampled_from(["http", "https", "urn"]),
    st.text(st.characters(whitelist_categories=("Ll", "Nd")), min_size=1, max_size=20),
)


@settings(max_examples=50, deadline=None)
@given(_URI_OK)
def test_uri_regex_accepts_valid(uri):
    import re

    from muurschilderingendatabase_etl_spark.rdf.schema import VALID_URI_REGEX

    assert re.fullmatch(VALID_URI_REGEX, uri)


@settings(max_examples=50, deadline=None)
@given(st.text(max_size=30).filter(lambda s: " " in s or ":" not in s))
def test_uri_regex_rejects_invalid(text):
    import re

    from muurschilderingendatabase_etl_spark.rdf.schema import VALID_URI_REGEX

    assert re.fullmatch(VALID_URI_REGEX, text) is None


@settings(max_examples=20, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from([DCTERMS + p for p in ("a", "b", "c")]),
        st.sampled_from([SDO + p for p in ("x", "y", "z")]),
        max_size=3,
    )
)
def test_mapping_preserves_cardinality(spark, mapping):
    triples = _fixture_triples(spark)
    assert transform.apply_mapping(triples, mapping).count() == triples.count()


ANON_TTL = """@prefix ex: <http://ex.org/> .
ex:a ex:knows [ ex:name "Bob" ; ex:age 42 ] .
[ ex:name "Carol" ] ex:knows ex:a .
[] ex:p ex:q .
[ ex:name "solo" ] .
ex:z ex:deep [ ex:inner [ ex:v 1 ] ] .
"""

COLL_TTL = """@prefix ex: <http://ex.org/> .
ex:x ex:list ( ex:a "lit" 3 ( ex:nested ) ) .
ex:y ex:empty () .
"""

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def test_parse_anonymous_property_lists():
    """`[ … ]` as object, subject, bare statement, empty, and nested —
    the one parser gap a live Omeka S export could hit (r4 verdict
    item 4; reference parse sites export_from_omeka_s.py:50)."""
    triples = _parse(ANON_TTL)
    ex = "http://ex.org/"
    knows = [t for t in triples if t["p"] == ex + "knows"]
    # object position: ex:a knows a bnode that has name=Bob, age=42
    obj_bnode = next(t["o"] for t in knows if t["s"] == ex + "a")
    assert obj_bnode.startswith("_:")
    props = {t["p"]: t["o"] for t in triples if t["s"] == obj_bnode}
    assert props == {ex + "name": "Bob", ex + "age": "42"}
    # subject position: a bnode with name=Carol knows ex:a
    subj_bnode = next(t["s"] for t in knows if t["o"] == ex + "a")
    assert subj_bnode.startswith("_:") and subj_bnode != obj_bnode
    assert {"s": subj_bnode, "s_kind": "bnode", "p": ex + "name", "o": "Carol",
            "o_kind": "literal", "o_lang": None, "o_datatype": None} in triples
    # nested: z -> deep -> [inner -> [v 1]]
    deep = next(t["o"] for t in triples if t["p"] == ex + "deep")
    inner = next(t["o"] for t in triples if t["s"] == deep)
    assert next(t["o"] for t in triples if t["s"] == inner) == "1"
    assert len(triples) == 10


def test_parse_collections_first_rest_nil():
    triples = _parse(COLL_TTL)
    ex = "http://ex.org/"
    head = next(t["o"] for t in triples if t["p"] == ex + "list")
    items = []
    node = head
    while node != RDF_NS + "nil":
        items.append(next(t["o"] for t in triples if t["s"] == node
                          and t["p"] == RDF_NS + "first"))
        node = next(t["o"] for t in triples if t["s"] == node
                    and t["p"] == RDF_NS + "rest")
    assert items[:3] == [ex + "a", "lit", "3"]
    # 4th item is itself a one-element list holding ex:nested
    sub = items[3]
    assert next(t["o"] for t in triples if t["s"] == sub
                and t["p"] == RDF_NS + "first") == ex + "nested"
    # () is rdf:nil directly
    assert next(t["o"] for t in triples if t["p"] == ex + "empty") == RDF_NS + "nil"


def test_anon_label_never_collides_with_explicit():
    ttl = """@prefix ex: <http://ex.org/> .
_:anon-1 ex:p [ ex:q "v" ] .
"""
    triples = _parse(ttl)
    labels = {t["s"] for t in triples} | {
        t["o"] for t in triples if t["o_kind"] == "bnode"
    }
    assert "_:anon-1" in labels
    gen = labels - {"_:anon-1"}
    assert len(gen) == 1 and not next(iter(gen)).startswith("_:anon-1")


def test_anon_round_trip(spark, tmp_path):
    """Labeled-bnode serialization of a graph parsed from anonymous
    syntax re-parses to an isomorphic graph (labels are stable, so
    plain triple-set equality applies)."""
    for fixture in (ANON_TTL, COLL_TTL):
        path = tmp_path / "anon.ttl"
        path.write_text(fixture, encoding="utf-8")
        parsed = read_turtle(spark, str(path))
        triples = triples_only(parsed)
        text = serialize_turtle(triples, {"ex": "http://ex.org/"})
        reparsed = sorted(
            (t["s"], t["p"], t["o"], t["o_lang"], t["o_datatype"])
            for t in _parse(text)
        )
        original = sorted(
            (t["s"], t["p"], t["o"], t["o_lang"], t["o_datatype"])
            for t in _parse(fixture)
        )
        assert reparsed == original


def test_auto_compact_synthesizes_prefixes(spark, tmp_path):
    """rdflib auto_compact analogue (r4 verdict item 5): namespaces
    present in the graph but unbound get deterministic nsN prefixes;
    provided bindings win; output is byte-stable."""
    ttl = """@prefix ex: <http://ex.org/> .
ex:a <http://other.org/vocab#rel> <http://other.org/vocab#thing> .
ex:a ex:val "3.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .
"""
    path = tmp_path / "auto.ttl"
    path.write_text(ttl, encoding="utf-8")
    triples = triples_only(read_turtle(spark, str(path)))
    text = serialize_turtle(
        triples, {"ex": "http://ex.org/"}, auto_compact=True
    )
    # the unbound namespaces got synthesized prefixes...
    assert "@prefix ns1: <http://other.org/vocab#> ." in text
    assert "@prefix ns2: <http://www.w3.org/2001/XMLSchema#> ." in text
    # ...and the terms are compacted with them / with provided bindings
    assert "ns1:rel ns1:thing ." in text
    assert '"3.5"^^ns2:decimal' in text
    assert "ex:a" in text
    # byte-stable
    assert text == serialize_turtle(
        triples, {"ex": "http://ex.org/"}, auto_compact=True
    )
    # round-trips to the same graph
    reparsed = sorted(
        (t["s"], t["p"], t["o"], t["o_lang"], t["o_datatype"])
        for t in _parse(text)
    )
    original = sorted(
        (t["s"], t["p"], t["o"], t["o_lang"], t["o_datatype"])
        for t in _parse(ttl)
    )
    assert reparsed == original
