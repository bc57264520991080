"""Seeded Omeka-style corpus for the ``etl_reference`` workload, and an
independent pure-Python model of what the paper's two CI jobs must make
of it.

The corpus is what the export job would fetch from
``api/items?format=turtle&page=N``: ``PAGES`` pages of Turtle, plus the
``api-context`` JSON that supplies the prefix bindings, plus the
rijksmonument enrichment service. It plants the bad data the reference
cleans up: subjects that are not URIs, ``@context`` junk, objects typed
to customvocab classes, object IRIs that are not URIs, malformed pages
(quarantined by the parser), duplicate rijksmonument keys (with and
without the ``RM`` prefix) and keys whose enrichment fetch fails.

The model never calls the package: it holds each generated triple as a
tuple and applies the reference's rules to them directly.
"""

from __future__ import annotations

import json
import random
import re
from collections import Counter
from dataclasses import dataclass

# Vocabulary, spelled out here rather than imported from the package so
# the model stays independent of the code under test.
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
SDO = "https://schema.org/"
DCTERMS = "http://purl.org/dc/terms/"
OMEKA = "http://omeka.org/s/vocabs/o#"
CEO = "https://linkeddata.cultureelerfgoed.nl/def/ceo#"
ITEM = "https://muurschilderingendatabase.nl/api/items/"
TERM = "https://muurschilderingendatabase.nl/api/customvocab-terms/"
CUSTOMVOCAB_CLASS = "https://muurschilderingendatabase.nl/api/customvocabs#Term"
USER = "https://muurschilderingendatabase.nl/api/users/"
PLACE = "https://www.geonames.org/"
MONUMENT = "https://api.rijksmonumenten.nl/monument/"

RDF_TYPE = RDF + "type"
SAME_AS = SDO + "sameAs"
RM_NUMBER = CEO + "rijksmonumentnummer"
RM_CLASS = CEO + "Rijksmonument"

IRI, LITERAL = "iri", "literal"

# The reference's page cap (export_from_omeka_s.py range(1, 100)). Items
# per page is a tenth of the reference's 100 so that one export+transform
# op takes about 10-15 s, not 15-25 s, and a run holds a cold and a warm op.
PAGES = 99
ITEMS_PER_PAGE = 10

# Same shape check as the reference's URI test, written independently.
_VALID_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:[^\s<>\"{}|\\^`]*$")

# The CI job's predicate filter and rename mapping, in the reference's
# environment-variable form (transform_datamodel.py FILTER*/MAP_*).
TRANSFORM_ENV = {
    "FILTER_PUBLIC": OMEKA + "is_public",
    "FILTER_OWNER": OMEKA + "owner",
    "FILTER_BAD": "not a uri",
    "MAP_DCTERMS_title": "SDO.name",
    "MAP_DCTERMS_Created": "SDO.dateCreated",
    "MAP_DCTERMS_spatial": "SDO.contentLocation",
}
MAPPING = {
    DCTERMS + "title": SDO + "name",
    DCTERMS + "created": SDO + "dateCreated",
    DCTERMS + "spatial": SDO + "contentLocation",
}
FILTERLIST = [OMEKA + "is_public", OMEKA + "owner"]

# A triple is (s, s_kind, p, o, o_kind, o_lang, o_datatype).
Triple = tuple


def _lit(value: str, lang: str | None = None, dtype: str | None = None) -> tuple:
    return (value, LITERAL, lang, dtype)


def _iri(value: str) -> tuple:
    return (value, IRI, None, None)


def _esc(text: str) -> str:
    return text.replace("\\", "\\\\").replace('"', '\\"')


_PREFIXES = {
    "rdf": RDF, "xsd": XSD, "dcterms": DCTERMS, "o": OMEKA, "ceo": CEO,
    "sdo": SDO,
}


def _obj_text(obj: tuple) -> str:
    value, kind, lang, dtype = obj
    if kind == IRI:
        return f"<{value}>"
    if dtype == XSD + "integer":
        return value  # numeric shorthand
    if dtype == XSD + "boolean":
        return value  # true / false shorthand
    out = f'"{_esc(value)}"'
    if lang:
        out += f"@{lang}"
    elif dtype:
        out += f"^^xsd:{dtype[len(XSD):]}"
    return out


def _pred_text(p: str) -> str:
    if p == RDF_TYPE:
        return "a"
    for pfx, ns in _PREFIXES.items():
        if p.startswith(ns):
            return f"{pfx}:{p[len(ns):]}"
    return f"<{p}>"


def _subject_block(s: str, pos: list[tuple[str, tuple]]) -> str:
    body = " ;\n    ".join(f"{_pred_text(p)} {_obj_text(o)}" for p, o in pos)
    return f"<{s}> {body} .\n"


@dataclass
class Corpus:
    """One generated input set: what the stub endpoints serve."""

    pages: list[str]
    page_triples: list[list[Triple]]
    malformed: set[int]  # 0-based page indexes the parser must quarantine
    context_json: str
    enrichments: dict[str, str]  # key -> Turtle body
    enrichment_triples: dict[str, list[Triple]]
    failing_keys: set[str]

    def serialized(self) -> bytes:
        """Every input byte, in a fixed order (same-seed identity test)."""
        return json.dumps(
            [self.pages, self.context_json, sorted(self.enrichments.items()),
             sorted(self.failing_keys)],
            sort_keys=True,
        ).encode()


def generate(seed: int, pages: int = PAGES, per_page: int = ITEMS_PER_PAGE) -> Corpus:
    rng = random.Random(seed)
    n_items = pages * per_page
    # Monument keys are drawn from a pool smaller than the number of
    # monument items, so keys repeat across items.
    key_pool = [str(100000 + rng.randrange(900000)) for _ in range(max(4, n_items // 8))]
    failing = {k for k in key_pool if rng.random() < 0.15}
    n_terms = 12
    malformed = set(rng.sample(range(pages), k=max(1, pages // 30)))
    page_texts: list[str] = []
    page_triples: list[list[Triple]] = []
    header = "".join(f"@prefix {p}: <{ns}> .\n" for p, ns in _PREFIXES.items())
    for pg in range(pages):
        blocks: list[str] = [header]
        triples: list[Triple] = []

        def add(s: str, pos: list[tuple[str, tuple]]) -> None:
            blocks.append(_subject_block(s, pos))
            triples.extend((s, IRI, p, *o) for p, o in pos)

        for j in range(per_page):
            i = pg * per_page + j
            s = f"{ITEM}{i}"
            words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 6)))
            pos = [
                (RDF_TYPE, _iri(OMEKA + "Item")),
                (DCTERMS + "title", _lit(f"Muurschildering {i}: {words}", "nl")),
                (DCTERMS + "description", _lit(f'"{words}" \\ {rng.randrange(10**6)}')),
                (DCTERMS + "created", _lit(str(1850 + rng.randrange(170)), dtype=XSD + "gYear")),
                (DCTERMS + "extent", _lit(str(rng.randint(1, 400)), dtype=XSD + "integer")),
                (DCTERMS + "spatial", _iri(f"{PLACE}{rng.randrange(2000)}")),
                (OMEKA + "is_public", _lit(rng.choice(["true", "false"]), dtype=XSD + "boolean")),
                (OMEKA + "owner", _iri(f"{USER}{rng.randrange(7)}")),
            ]
            r = rng.random()
            if r < 0.35:
                key = rng.choice(key_pool)
                if rng.random() < 0.8:
                    pos.append((RDF_TYPE, _iri(RM_CLASS)))
                pos.append((RM_NUMBER, _lit(("RM" if rng.random() < 0.7 else "") + key)))
            if rng.random() < 0.2:
                pos.append((DCTERMS + "subject", _iri(f"{TERM}{rng.randrange(n_terms)}")))
            if rng.random() < 0.05:
                pos.append((DCTERMS + "source", _iri(f"nocolon-{i}")))
            if rng.random() < 0.03:
                pos.append((DCTERMS + "relation", _iri(f"1bad:{i}")))
            if rng.random() < 0.04:
                pos.append((DCTERMS + "abstract", _lit('{"@context": "https://omeka.org/"}')))
            add(s, pos)
            if rng.random() < 0.02:
                add(f"https://muurschilderingendatabase.nl/api-context/@context/{i}",
                    [(DCTERMS + "title", _lit("context junk"))])
            if rng.random() < 0.02:
                add(f"notascheme-{i}", [(DCTERMS + "title", _lit("garbage subject"))])
        # Every page repeats the customvocab term descriptions it links
        # to; half the terms are typed to a customvocab class, so links
        # to them are dropped by the cleanup.
        for v in range(n_terms):
            pos = [(SDO + "name", _lit(f"term {v}"))]
            if v % 2 == 0:
                pos.insert(0, (RDF_TYPE, _iri(CUSTOMVOCAB_CLASS)))
            add(f"{TERM}{v}", pos)
        text = "".join(blocks)
        if pg in malformed:
            # an unterminated statement: the whole page is quarantined
            text += f'<{ITEM}broken-{pg}> dcterms:title "cut off .\n'
        page_texts.append(text)
        page_triples.append(triples)

    enrichments: dict[str, str] = {}
    enrichment_triples: dict[str, list[Triple]] = {}
    for key in key_pool:
        m = f"{MONUMENT}{key}"
        pos = [
            (SDO + "identifier", _lit(key)),
            (SDO + "name", _lit(f"Rijksmonument {key}", "nl")),
            (SDO + "address", _lit(f"Straat {int(key) % 97}")),
        ]
        body = header + _subject_block(m, pos)
        # A triple every enrichment body shares: the union must keep one.
        shared = ("https://api.rijksmonumenten.nl/", IRI, SDO + "name",
                  "Rijksmonumentenregister", LITERAL, None, None)
        body += f'<{shared[0]}> <{shared[2]}> "{shared[3]}" .\n'
        enrichments[key] = body
        enrichment_triples[key] = [(m, IRI, p, *o) for p, o in pos] + [shared]

    context = {
        "@context": {
            pfx: ns.replace("/", "\\/") for pfx, ns in _PREFIXES.items()
        } | {"o-module-mapping": {"@id": "http://omeka.org/s/vocabs/module/mapping#"}}
    }
    return Corpus(
        pages=page_texts,
        page_triples=page_triples,
        malformed=malformed,
        context_json=json.dumps(context),
        enrichments=enrichments,
        enrichment_triples=enrichment_triples,
        failing_keys=failing,
    )


_WORDS = (
    "kerk gevel plafond fresco engel heilige koor schip wapen rank bloem "
    "ster zon maan tekst jaartal kalk oker rood blauw goud"
).split()


# ---------------------------------------------------------------------------
# Model


def _dedup(rows: list[Triple]) -> list[Triple]:
    """Set-semantics union: one row per (s, p, o, o_lang, o_datatype)."""
    seen: dict[tuple, Triple] = {}
    for r in rows:
        seen.setdefault((r[0], r[2], r[3], r[5], r[6]), r)
    return list(seen.values())


@dataclass
class Expected:
    export_rows: list[Triple]
    final_rows: list[Triple]
    counts: dict[str, int]


def model(corpus: Corpus) -> Expected:
    parsed = [t for i, ts in enumerate(corpus.page_triples)
              if i not in corpus.malformed for t in ts]
    # export cleanup, in the reference's order
    step1 = [
        t for t in parsed
        if "@context" not in t[0] and "@context" not in t[3]
        and (t[1] != IRI or _VALID_URI.match(t[0]))
    ]
    bad = {t[0] for t in step1 if t[2] == RDF_TYPE and "customvocab" in t[3]}
    step2 = [t for t in step1 if t[3] not in bad]
    export = [t for t in step2 if t[4] != IRI or _VALID_URI.match(t[3])]

    # transform: enrich -> sameAs -> rename -> filter
    keys = sorted({re.sub(r"^RM", "", t[3]) for t in export if t[2] == RM_NUMBER})
    fetched = [t for k in keys if k not in corpus.failing_keys
               for t in corpus.enrichment_triples[k]]
    union = _dedup(export + fetched)
    monuments = {t[0] for t in union if t[2] == RDF_TYPE and t[3] == RM_CLASS}
    derived = [(t[0], t[1], SAME_AS, *t[3:]) for t in union
               if t[2] == RM_NUMBER and t[0] in monuments]
    with_same_as = _dedup(union + derived)
    mapped = [(t[0], t[1], MAPPING.get(t[2], t[2]), *t[3:]) for t in with_same_as]
    final = [t for t in mapped if t[2] not in FILTERLIST]
    return Expected(
        export_rows=export,
        final_rows=final,
        counts={
            "pages": len(corpus.pages),
            "bytes_in": sum(len(p.encode()) for p in corpus.pages),
            "docs_quarantined": len(corpus.malformed),
            "triples_parsed": len(parsed),
            "triples_dropped": len(parsed) - len(export),
            "keys_distinct": len(keys),
            "triples_enriched": len(fetched),
            "same_as_added": len(with_same_as) - len(union),
            "triples_filtered": len(mapped) - len(final),
        },
    )


# ---------------------------------------------------------------------------
# Reading back a written artifact. The writer emits one statement per line
# after its @prefix header; this reader accepts exactly that form and
# raises on anything else.

_TERM_RE = re.compile(
    r"""\s*(?:
      <(?P<iri>[^<>"{}|^`\\\s]*)>
    | (?P<pname>[A-Za-z0-9_-]*):(?P<local>[A-Za-z0-9_.-]*)
    | (?P<bnode>_:[A-Za-z0-9_-]+)
    | "(?P<lit>(?:[^"\\]|\\.)*)"(?:@(?P<lang>[A-Za-z][A-Za-z0-9-]*)|\^\^(?P<dt>\S+?(?=\s)))?
    )""",
    re.VERBOSE,
)
_UNESC = {"\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r", "\\t": "\t"}


def read_artifact(text: str) -> list[Triple]:
    prefixes: dict[str, str] = {}
    rows: list[Triple] = []

    def term(line: str, pos: int) -> tuple[int, tuple]:
        m = _TERM_RE.match(line, pos)
        if m is None:
            raise ValueError(f"unreadable term at {pos}: {line!r}")
        if m.group("iri") is not None:
            return m.end(), (m.group("iri"), IRI, None, None)
        if m.group("pname") is not None:
            return m.end(), (prefixes[m.group("pname")] + m.group("local"), IRI, None, None)
        if m.group("bnode") is not None:
            return m.end(), (m.group("bnode"), "bnode", None, None)
        value = re.sub(r"\\.", lambda e: _UNESC[e.group()], m.group("lit"))
        dt = m.group("dt")
        if dt is not None:
            _, dt_term = term(dt + " ", 0)
            dt = dt_term[0]
        return m.end(), (value, LITERAL, m.group("lang"), dt)

    for line in text.splitlines():
        if not line:
            continue
        m = re.fullmatch(r"@prefix ([A-Za-z0-9_-]*): <([^>]*)> \.", line)
        if m:
            prefixes[m.group(1)] = m.group(2)
            continue
        pos, s = term(line, 0)
        pos, p = term(line, pos)
        pos, o = term(line, pos)
        if line[pos:] != " .":
            raise ValueError(f"bad statement end: {line!r}")
        rows.append((s[0], s[1], p[0], o[0], o[1], o[2], o[3]))
    return rows


def compare(name: str, got: list[Triple], want: list[Triple]) -> list[str]:
    """Differences between an artifact and the model, as messages. Every
    field counts, the subject's and object's kind (IRI, blank node,
    literal) too."""
    g, w = Counter(map(tuple, got)), Counter(map(tuple, want))
    if g == w:
        return []
    extra, missing = g - w, w - g
    return [f"{name}: {sum(extra.values())} unexpected, {sum(missing.values())} missing "
            f"(e.g. {next(iter(extra or missing))})"]
