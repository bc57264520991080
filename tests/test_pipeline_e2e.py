"""End-to-end pipeline golden test (SURVEY §3.1 + §3.2 + §5.2 item 2):
paginated REST scan (stub fetcher) → cleanup → enrichment/sameAs →
rename → filter → deterministic Turtle serialization, byte-compared
against a checked-in golden string and asserted idempotent."""

from __future__ import annotations

import os

from muurschilderingendatabase_etl_spark.rdf import pipeline
from muurschilderingendatabase_etl_spark.rdf.schema import (
    CEO_RIJKSMONUMENT,
    CEO_RIJKSMONUMENTNUMMER,
    RDF_TYPE,
    SDO_SAME_AS,
    WELL_KNOWN_NAMESPACES,
)
from muurschilderingendatabase_etl_spark.rdf.turtle import (
    parse_turtle_text,
    read_turtle,
    serialize_turtle,
    triples_only,
    write_turtle,
)

DCTERMS = "http://purl.org/dc/terms/"
SDO = WELL_KNOWN_NAMESPACES["SDO"]
OMEKA = "http://omeka.org/s/vocabs/o#"
ITEM = "https://muurschilderingendatabase.nl/item/"


def _page_fetcher(page: int) -> str:
    if page > 1:
        return ""
    return f"""
    @prefix dcterms: <{DCTERMS}> .
    @prefix ceo: <https://linkeddata.cultureelerfgoed.nl/def/ceo#> .
    @prefix o: <{OMEKA}> .
    <{ITEM}1> dcterms:title "Sint Joris" ;
        a ceo:Rijksmonument ;
        ceo:rijksmonumentnummer "RM12345" ;
        o:is_public true .
    <{ITEM}2> dcterms:title "Zonder type" .
    <notascheme> dcterms:title "garbage subject" .
    """


def _enrich_fetcher(key: str) -> str:
    return f'<https://monuments.example/{key}> <{DCTERMS}identifier> "{key}" .'


def test_full_pipeline_golden(spark):
    cleaned = pipeline.run_export(spark, _page_fetcher)
    result = pipeline.run_transform(
        cleaned,
        mapping={DCTERMS + "title": SDO + "name"},
        filterlist=[OMEKA + "is_public"],
        fetcher=_enrich_fetcher,
    )
    text = serialize_turtle(result, {"sdo": SDO, "dcterms": DCTERMS})

    rows = {(s, p, o) for s, _, p, o, *_ in parse_turtle_text(text)}
    # cleanup dropped the invalid-URI subject
    assert not any(s == "notascheme" for s, _, _ in rows)
    # rename applied (dcterms:title -> sdo:name), original gone
    assert (ITEM + "1", SDO + "name", "Sint Joris") in rows
    assert not any(p == DCTERMS + "title" for _, p, _ in rows)
    # filter dropped the housekeeping predicate
    assert not any(p == OMEKA + "is_public" for _, p, _ in rows)
    # enrichment union + type-gated sameAs
    assert ("https://monuments.example/12345", DCTERMS + "identifier", "12345") in rows
    assert (ITEM + "1", SDO + "sameAs", "RM12345") in rows
    # type row survived
    assert (ITEM + "1", RDF_TYPE, CEO_RIJKSMONUMENT) in rows

    # determinism: serializing the same result twice is byte-identical
    assert text == serialize_turtle(result, {"sdo": SDO, "dcterms": DCTERMS})


def test_file_pipeline_matches_run_transform(spark, tmp_path):
    src = tmp_path / "in.ttl"
    src.write_text(_page_fetcher(1), encoding="utf-8")
    text = pipeline.run_file_pipeline(
        spark,
        str(src),
        mapping={DCTERMS + "title": SDO + "name"},
        filterlist=[OMEKA + "is_public"],
    )
    rows = {(s, p, o) for s, _, p, o, *_ in parse_turtle_text(text)}
    assert (ITEM + "1", SDO + "name", "Sint Joris") in rows
    # no fetcher -> sameAs still derived for typed monuments (add_same_as)
    assert (ITEM + "1", SDO + "sameAs", "RM12345") in rows


def _two_page_fetcher(page: int) -> str:
    """``_page_fetcher``'s page plus one whose monument numbers repeat
    key 12345 without the RM prefix and add key 777."""
    if page == 1:
        return _page_fetcher(1)
    if page > 2:
        return ""
    return f"""
    @prefix ceo: <https://linkeddata.cultureelerfgoed.nl/def/ceo#> .
    <{ITEM}3> ceo:rijksmonumentnummer "12345" .
    <{ITEM}4> a ceo:Rijksmonument ;
        ceo:rijksmonumentnummer "RM777" .
    """


def _read_parts(path: str) -> str:
    return "".join(
        open(os.path.join(path, f), encoding="utf-8").read()
        for f in sorted(os.listdir(path)) if f.startswith("part-")
    )


def test_file_chain_fetches_each_key_once(spark, tmp_path):
    """The CI chain export → Turtle artifact → transform → Turtle runs
    several Spark actions (auto_prefixes, each sort's range sampling,
    the writes). The enrichment fetcher still runs once per distinct
    RM-stripped key, and the written bytes equal the in-memory golden
    path's."""
    mapping = {DCTERMS + "title": SDO + "name"}
    filterlist = [OMEKA + "is_public"]
    prefixes = {"sdo": SDO, "dcterms": DCTERMS}
    calls = spark.sparkContext.accumulator(0)

    def counting_fetcher(key: str) -> str:
        calls.add(1)
        return _enrich_fetcher(key)

    export_dir, final_dir = str(tmp_path / "export"), str(tmp_path / "final")
    write_turtle(pipeline.run_export(spark, _two_page_fetcher), export_dir, prefixes)
    triples = triples_only(read_turtle(spark, export_dir))
    result = pipeline.run_transform(triples, mapping, filterlist, counting_fetcher)
    write_turtle(result, final_dir, prefixes, auto_compact=True)
    assert calls.value == 2  # "12345" (from RM12345 and 12345) and "777"

    golden = serialize_turtle(
        pipeline.run_transform(
            pipeline.run_export(spark, _two_page_fetcher),
            mapping, filterlist, _enrich_fetcher,
        ),
        prefixes,
        auto_compact=True,
    )
    assert "dcterms:identifier \"777\" ." in golden
    assert _read_parts(final_dir) == golden


def test_enrichment_fetch_failures_drop_only_their_key(spark):
    """The enrichment fetch's error policy: of three monument keys, one
    answers valid Turtle, one raises and one answers a malformed body
    that starts with a valid statement. The job does not fail, only the
    valid key's triples (and the sameAs derived from them) are added to
    the graph, no triple of the malformed body leaks in, and each key
    is fetched exactly once."""
    ceo = "https://linkeddata.cultureelerfgoed.nl/def/ceo#"
    monument = "https://monuments.example/"

    def page(n: int) -> str:
        if n > 1:
            return ""
        return f"@prefix ceo: <{ceo}> .\n" + "".join(
            f'<{ITEM}{k}> a ceo:Rijksmonument ; ceo:rijksmonumentnummer "RM{k}" .\n'
            for k in (1, 2, 3)
        )

    calls = {k: spark.sparkContext.accumulator(0) for k in ("1", "2", "3")}

    def fetcher(key: str) -> str:
        calls[key].add(1)
        if key == "2":
            raise OSError("HTTP 503")
        if key == "3":
            return (f'<{monument}3> <{DCTERMS}identifier> "3" .\n'
                    f"<{monument}3> ;;; not turtle")
        return (f"@prefix ceo: <{ceo}> .\n"
                f'<{monument}1> a ceo:Rijksmonument ; ceo:rijksmonumentnummer "1" .')

    cleaned = pipeline.run_export(spark, page)
    base = pipeline.run_transform(cleaned, {}, [])
    result = pipeline.run_transform(cleaned, {}, [], fetcher)
    base_rows = {tuple(r) for r in base.select("s", "p", "o").collect()}
    rows = {tuple(r) for r in result.select("s", "p", "o").collect()}

    assert base_rows <= rows
    assert rows - base_rows == {
        (monument + "1", RDF_TYPE, CEO_RIJKSMONUMENT),
        (monument + "1", CEO_RIJKSMONUMENTNUMMER, "1"),
        (monument + "1", SDO_SAME_AS, "1"),
    }
    assert {k: acc.value for k, acc in calls.items()} == {"1": 1, "2": 1, "3": 1}


def test_failed_enrichment_fetch_logs_its_key(caplog):
    """Each key whose fetch raises leaves one WARNING naming the key and
    the exception type, and its body is skipped; the other keys' bodies
    pass through in order. Drives the fetch loop in the driver process,
    so the log record is captured here, not in a Python worker."""
    import logging

    from pyspark.sql import Row

    from muurschilderingendatabase_etl_spark.rdf.transform import fetch_bodies

    def fetcher(key: str) -> str:
        if key == "2":
            raise OSError("HTTP 503")
        return f"body {key}"

    keys = [Row(key=k) for k in ("1", "2", "3")]
    with caplog.at_level(logging.WARNING, logger="muurschilderingendatabase_etl_spark"):
        bodies = list(fetch_bodies(keys, fetcher))

    assert bodies == ["body 1", "body 3"]
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "'2'" in warnings[0].getMessage()
    assert "OSError" in warnings[0].getMessage()
