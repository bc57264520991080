"""Turtle parser and deterministic writer (SURVEY.md O2, O7/O17, O21).

The reference round-trips between Turtle text and an rdflib Graph
(graph.parse — export_from_omeka_s.py:50, transform_datamodel.py:84,102;
graph.serialize — export:84, transform:131-137). Here:

- **parse**: ``spark.read.text(paths, wholetext=True)`` (one file per
  row) → ``mapPartitions`` running a small Turtle tokenizer → triples
  rows. Prefix directives are file-scoped, so parsing whole files per
  task is the correct unit of parallelism (SURVEY §7 watch-list); many
  files parallelize across tasks. Malformed statements go to a
  ``_corrupt`` column instead of failing the job (O20 —
  ``badRecordsPath`` analogue of the reference's BadSyntax handling,
  transform:162-163).
- **write**: global ``orderBy(s, p, o)`` → single-partition formatter
  with prefix compaction (auto_compact analogue, transform:135). The
  deterministic sort is what makes golden-file testing possible; the
  single-file output matches the reference's artifact handoff (workflow
  33-39). Scale ceiling: the writer is for RDF artifacts (≤ GBs); the
  triples DataFrame itself scales via parquet.

Supported Turtle subset: @prefix/PREFIX directives, IRIs, prefixed
names, ``a`` keyword, blank-node labels, string literals (single/triple
quoted) with @lang / ^^datatype, numeric and boolean literal shorthand,
``;`` and ``,`` lists, anonymous ``[ … ]`` property lists (as subject
or object, nested) and collections ``( … )`` (expanded to the standard
rdf:first/rdf:rest/rdf:nil chain). The reference's own data never
produces the last two, but Omeka S / JSON-LD-derived Turtle in the wild
can (reference parse sites export_from_omeka_s.py:50,
transform_datamodel.py:84,102). Anonymous nodes get deterministic
fresh labels chosen to never collide with the document's explicit
blank-node labels.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession

from muurschilderingendatabase_etl_spark.rdf.schema import (
    BNODE,
    IRI,
    LITERAL,
    TRIPLE_COLS,
    WELL_KNOWN_NAMESPACES,
)

PARSED_SCHEMA = (
    "s string, s_kind string, p string, o string, o_kind string,"
    " o_lang string, o_datatype string, _corrupt string"
)

_XSD = WELL_KNOWN_NAMESPACES["XSD"]

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>\#[^\n]*)
  | (?P<iri><[^<>"{}|^`\\\s]*>)
  | (?P<triple_quote>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\")
  | (?P<quote>"(?:[^"\\\n]|\\.)*")
  | (?P<keyword>@prefix(?=\s)|@base(?=\s)|PREFIX\b|BASE\b|true\b|false\b|[Aa](?![\w:-]))
  | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<dtype_marker>\^\^)
  | (?P<punct>[;,.])
  | (?P<bracket>[\[\]()])
  | (?P<bnode>_:[A-Za-z0-9_-]+)
  | (?P<pname>[A-Za-z0-9_-]*:[A-Za-z0-9_.%-]*)
  | (?P<number>[+-]?(?:\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    """,
    re.VERBOSE,
)

_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape(text: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(text):
        ch = text[i]
        if ch == "\\" and i + 1 < len(text):
            nxt = text[i + 1]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
            if nxt == "u" and i + 6 <= len(text):
                out.append(chr(int(text[i + 2 : i + 6], 16)))
                i += 6
                continue
            if nxt == "U" and i + 10 <= len(text):
                out.append(chr(int(text[i + 2 : i + 10], 16)))
                i += 10
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def _tokenize(text: str) -> Iterator[tuple[str, str]]:
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise ValueError(f"unexpected character at offset {pos}: {text[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        yield kind, m.group()


def _at(tokens: list, i: int) -> tuple[str, str]:
    """``tokens[i]``; a document that ends before it is malformed, so
    this raises ValueError (the quarantine signal), never IndexError."""
    if i >= len(tokens):
        raise ValueError(f"unexpected end of input at token {i}")
    return tokens[i]


class _Parser:
    """Statement-at-a-time Turtle parser over a token stream."""

    def __init__(self) -> None:
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self._anon_prefix = "anon-"
        self._anon_n = 0

    def _fresh_bnode(self) -> str:
        self._anon_n += 1
        return f"_:{self._anon_prefix}{self._anon_n}"

    def parse(self, text: str) -> Iterator[dict]:
        tokens = list(_tokenize(text))
        # Deterministic anonymous-node labels that can never collide
        # with the document's explicit `_:` labels: lengthen the prefix
        # until no explicit label starts with it.
        explicit = {v[2:] for k, v in tokens if k == "bnode"}
        while any(lbl.startswith(self._anon_prefix) for lbl in explicit):
            self._anon_prefix += "x-"
        i = 0
        n = len(tokens)
        while i < n:
            kind, val = tokens[i]
            if kind == "keyword" and val in ("@prefix", "PREFIX"):
                # @prefix ex: <http://…> .
                pname = _at(tokens, i + 1)[1]
                iri = _at(tokens, i + 2)[1][1:-1]
                self.prefixes[pname[:-1]] = iri
                i += 3
                if i < n and tokens[i] == ("punct", "."):
                    i += 1
                continue
            if kind == "keyword" and val in ("@base", "BASE"):
                self.base = _at(tokens, i + 1)[1][1:-1]
                i += 2
                if i < n and tokens[i] == ("punct", "."):
                    i += 1
                continue
            i = yield from self._statement(tokens, i)

    def _statement(self, tokens: list, i: int) -> Iterator[dict]:
        out: list[dict] = []
        kind, val = tokens[i]
        had_anon_props = False
        if kind == "bracket" and val == "[":
            i, subj = self._anon_property_list(tokens, i, out)
            s_kind = BNODE
            had_anon_props = True
        elif kind == "bracket" and val == "(":
            i, subj, s_kind = self._collection(tokens, i, out)
        else:
            subj, s_kind = self._term(tokens[i], subject=True)
            i += 1
        # `[ p o ] .` is a complete statement on its own.
        if not (had_anon_props and i < len(tokens) and tokens[i] == ("punct", ".")):
            i = self._predicate_object_list(tokens, i, subj, s_kind, out)
        if i < len(tokens) and tokens[i] == ("punct", "."):
            i += 1
        else:
            raise ValueError(f"expected '.' near token {i}: {tokens[i:i+3]}")
        yield from out
        return i

    def _predicate_object_list(
        self, tokens: list, i: int, subj: str, s_kind: str, out: list[dict]
    ) -> int:
        """Parse ``p o (, o)* (; p o …)*`` for ``subj``, appending triples
        to ``out``. Leaves the terminator ('.' or ']') unconsumed."""
        while True:
            pred = self._predicate(_at(tokens, i))
            i += 1
            while True:
                i, obj = self._object(tokens, i, out)
                out.append({"s": subj, "s_kind": s_kind, "p": pred, **obj})
                if i < len(tokens) and tokens[i] == ("punct", ","):
                    i += 1
                    continue
                break
            if i < len(tokens) and tokens[i] == ("punct", ";"):
                # one or more ';' — stop if the list terminator follows
                while i < len(tokens) and tokens[i] == ("punct", ";"):
                    i += 1
                if i < len(tokens) and (
                    tokens[i] == ("punct", ".") or tokens[i] == ("bracket", "]")
                ):
                    return i
                continue
            if i < len(tokens) and (
                tokens[i] == ("punct", ".") or tokens[i] == ("bracket", "]")
            ):
                return i
            raise ValueError(
                f"expected ';' ',' '.' or ']' near token {i}: {tokens[i:i+3]}"
            )

    def _anon_property_list(
        self, tokens: list, i: int, out: list[dict]
    ) -> tuple[int, str]:
        """``[ p o ; … ]`` (or bare ``[]``) → fresh blank node; nested
        triples go to ``out``. Returns (next index, bnode label)."""
        node = self._fresh_bnode()
        i += 1  # consume '['
        if i < len(tokens) and tokens[i] == ("bracket", "]"):
            return i + 1, node
        i = self._predicate_object_list(tokens, i, node, BNODE, out)
        if i < len(tokens) and tokens[i] == ("bracket", "]"):
            return i + 1, node
        raise ValueError(f"unterminated '[' near token {i}: {tokens[i:i+3]}")

    def _collection(
        self, tokens: list, i: int, out: list[dict]
    ) -> tuple[int, str, str]:
        """``( o1 o2 … )`` → rdf:first/rdf:rest chain of fresh blank
        nodes (``()`` → rdf:nil). Returns (next index, head, kind)."""
        rdf_ns = WELL_KNOWN_NAMESPACES["RDF"]
        i += 1  # consume '('
        items: list[dict] = []
        while True:
            if i >= len(tokens):
                raise ValueError("unterminated '(' at end of input")
            if tokens[i] == ("bracket", ")"):
                i += 1
                break
            i, obj = self._object(tokens, i, out)
            items.append(obj)
        if not items:
            return i, rdf_ns + "nil", IRI
        nodes = [self._fresh_bnode() for _ in items]
        for j, (node, obj) in enumerate(zip(nodes, items)):
            out.append({"s": node, "s_kind": BNODE, "p": rdf_ns + "first", **obj})
            rest = (
                {"o": nodes[j + 1], "o_kind": BNODE}
                if j + 1 < len(nodes)
                else {"o": rdf_ns + "nil", "o_kind": IRI}
            )
            out.append({
                "s": node, "s_kind": BNODE, "p": rdf_ns + "rest",
                "o_lang": None, "o_datatype": None, **rest,
            })
        return i, nodes[0], BNODE

    def _expand_pname(self, pname: str) -> str:
        prefix, _, local = pname.partition(":")
        if prefix not in self.prefixes:
            raise ValueError(f"undefined prefix {prefix!r} in {pname!r}")
        return self.prefixes[prefix] + local

    def _term(self, token: tuple[str, str], subject: bool = False) -> tuple[str, str]:
        kind, val = token
        if kind == "iri":
            iri = val[1:-1]
            if self.base and "://" not in iri and not re.match(r"^[A-Za-z][\w+.-]*:", iri):
                iri = self.base + iri
            return iri, IRI
        if kind == "pname":
            return self._expand_pname(val), IRI
        if kind == "bnode":
            return val, BNODE
        raise ValueError(f"invalid {'subject' if subject else 'term'}: {token}")

    def _predicate(self, token: tuple[str, str]) -> str:
        kind, val = token
        if kind == "keyword" and val.lower().lstrip("@") == "a":
            return WELL_KNOWN_NAMESPACES["RDF"] + "type"
        term, t_kind = self._term(token)
        if t_kind != IRI:
            raise ValueError(f"predicate must be an IRI: {token}")
        return term

    def _object(self, tokens: list, i: int, out: list[dict]) -> tuple[int, dict]:
        kind, val = _at(tokens, i)
        if kind == "bracket" and val == "[":
            i, node = self._anon_property_list(tokens, i, out)
            return i, {"o": node, "o_kind": BNODE, "o_lang": None, "o_datatype": None}
        if kind == "bracket" and val == "(":
            i, head, h_kind = self._collection(tokens, i, out)
            return i, {"o": head, "o_kind": h_kind, "o_lang": None, "o_datatype": None}
        if kind in ("iri", "pname", "bnode"):
            term, t_kind = self._term(tokens[i])
            return i + 1, {"o": term, "o_kind": t_kind, "o_lang": None, "o_datatype": None}
        if kind in ("quote", "triple_quote"):
            raw = val[3:-3] if kind == "triple_quote" else val[1:-1]
            text = _unescape(raw)
            lang = dtype = None
            i += 1
            if i < len(tokens) and tokens[i][0] == "langtag":
                lang = tokens[i][1][1:]
                i += 1
            elif i < len(tokens) and tokens[i][0] == "dtype_marker":
                dtype, _ = self._term(_at(tokens, i + 1))
                i += 2
            return i, {"o": text, "o_kind": LITERAL, "o_lang": lang, "o_datatype": dtype}
        if kind == "number":
            dtype = _XSD + (
                "integer" if re.fullmatch(r"[+-]?\d+", val)
                else "double" if "e" in val.lower()
                else "decimal"
            )
            return i + 1, {"o": val, "o_kind": LITERAL, "o_lang": None, "o_datatype": dtype}
        if kind == "keyword" and val in ("true", "false"):
            return i + 1, {"o": val, "o_kind": LITERAL, "o_lang": None,
                           "o_datatype": _XSD + "boolean"}
        raise ValueError(f"invalid object token: {tokens[i]}")


def parse_turtle_text(text: str) -> list[dict]:
    """Parse one Turtle document (driver-side helper, also the executor
    kernel). Raises ValueError on malformed input."""
    return list(_Parser().parse(text))


def parse_bodies(bodies: DataFrame, column: str = "value") -> DataFrame:
    """Executor-side Turtle parse: one document body per row (in
    ``column``) → triples DataFrame (+ ``_corrupt`` quarantine column —
    PERMISSIVE mode, SURVEY O20). The shared kernel for file input
    (``read_turtle``) and the paginated REST source (``rdf/source.py``).

    The result is a lazy local checkpoint: the first action that reads
    it runs the Python parse (and whatever fetch feeds ``bodies``) once,
    and every later action — the quarantine split, ``auto_prefixes``, a
    sort's range sampling, the write — reads that materialization.
    """

    def parse_partition(rows: Iterable[Row]) -> Iterator[tuple]:
        for row in rows:
            body = row[column]
            try:
                for tr in parse_turtle_text(body):
                    yield (
                        tr["s"], tr["s_kind"], tr["p"],
                        tr["o"], tr["o_kind"], tr["o_lang"], tr["o_datatype"],
                        None,
                    )
            except ValueError as exc:
                # quarantine the document, don't fail the job
                yield (None, None, None, None, None, None, None,
                       f"{exc}: {body[:200]}")

    return (
        bodies.rdd.mapPartitions(parse_partition)
        .toDF(PARSED_SCHEMA)
        .localCheckpoint(eager=False)
    )


def read_turtle(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Turtle files → triples DataFrame (+ ``_corrupt`` column).

    One file per row via wholetext (prefix directives are file-scoped);
    files parallelize across tasks.
    """
    return parse_bodies(spark.read.text(paths, wholetext=True))


def triples_only(parsed: DataFrame) -> DataFrame:
    """Drop the quarantine column and corrupt rows."""
    return parsed.where(F.col("_corrupt").isNull()).select(*TRIPLE_COLS)


def corrupt_records(parsed: DataFrame) -> DataFrame:
    return parsed.where(F.col("_corrupt").isNotNull()).select("_corrupt")


# ---------------------------------------------------------------------------
# Writer

# Namespace = everything up to and including the LAST '#' or '/' with a
# pname-safe local part after it — the same split point rdflib's
# compute_qname uses when auto_compact invents prefixes.
_NS_SPLIT = r"^(.*[#/])[A-Za-z0-9_.-]+$"


def auto_prefixes(
    triples: DataFrame,
    provided: dict[str, str] | None = None,
    max_namespaces: int = 1000,
) -> dict[str, str]:
    """Synthesize ``ns1, ns2, …`` bindings for namespaces that occur in
    the graph but are not covered by ``provided`` — the rdflib
    ``serialize(…, auto_compact=True)`` analogue
    (transform_datamodel.py:135). Deterministic: candidate namespaces
    are sorted before numbering, so the same graph always gets the same
    bindings (byte-stable golden output). One small aggregation job over
    the triples (distinct namespaces, capped at ``max_namespaces``)."""
    out = dict(provided or {})
    bound = set(out.values())

    def ns(col):
        return F.regexp_extract(col, _NS_SPLIT, 1)

    rows = (
        triples.select(
            F.explode(
                F.array(
                    F.when(F.col("s_kind") == IRI, ns(F.col("s"))),
                    ns(F.col("p")),
                    F.when(F.col("o_kind") == IRI, ns(F.col("o"))),
                    ns(F.col("o_datatype")),
                )
            ).alias("ns")
        )
        .where(F.col("ns").isNotNull() & (F.col("ns") != ""))
        .distinct()
        .sort("ns")
        .limit(max_namespaces)
        .collect()
    )
    i = 1
    for r in rows:
        if r.ns in bound:
            continue
        while f"ns{i}" in out:
            i += 1
        out[f"ns{i}"] = r.ns
        bound.add(r.ns)
    return out


def _format_term(value: str, kind: str, lang: str | None, dtype: str | None,
                 prefixes: list[tuple[str, str]]) -> str:
    if kind == IRI:
        for pfx, ns in prefixes:
            if value.startswith(ns) and re.fullmatch(r"[A-Za-z0-9_.-]*", value[len(ns):]):
                return f"{pfx}:{value[len(ns):]}"
        return f"<{value}>"
    if kind == BNODE:
        return value
    escaped = (
        value.replace("\\", "\\\\").replace('"', '\\"')
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    )
    out = f'"{escaped}"'
    if lang:
        out += f"@{lang}"
    elif dtype:
        dt = _format_term(dtype, IRI, None, None, prefixes)
        out += f"^^{dt}"
    return out


def _serializable(triples: DataFrame) -> DataFrame:
    """Drop rows no Turtle document can represent: an RDF triple has no
    NULL terms (RDF 1.1 abstract syntax), so a null s/p/o — e.g. a
    literal built from a NULL source column — is not a triple. All three
    writers skip such rows, mirroring the reference's garbage-triple
    cleanup (export_from_omeka_s.py:53-59), instead of crashing the
    formatter on None. Keeps only the triple columns."""
    return triples.where(
        F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull()
    ).select(*TRIPLE_COLS)


def _writer_core(
    triples: DataFrame,
    prefixes: dict[str, str] | None,
    auto_compact: bool,
    reused: bool,
) -> tuple[DataFrame, list[str], Callable[[Row], str]]:
    """The three writers' shared setup → (rows, header lines, formatter).

    ``rows`` are the serializable triples. With ``reused`` (more than one
    action follows: ``auto_prefixes``, or a range partitioning whose
    boundary sampling runs the input once more) they are a lazy local
    checkpoint, so the upstream plan — Python parse and enrichment
    fetch included — runs once and every action reads that copy.
    ``auto_compact=True`` synthesizes ``nsN`` prefixes for unbound
    namespaces (rdflib auto_compact analogue, transform_datamodel.py:135).
    The formatter renders one row as one Turtle triple line."""
    rows = _serializable(triples)
    if reused:
        rows = rows.localCheckpoint(eager=False)
    if auto_compact:
        prefixes = auto_prefixes(rows, prefixes)
    prefix_items = sorted((prefixes or {}).items())
    header = [f"@prefix {p}: <{ns}> ." for p, ns in prefix_items]
    # longest namespace first so the most specific prefix wins
    prefix_order = sorted(prefix_items, key=lambda kv: -len(kv[1]))

    def line(r: Row) -> str:
        subj = _format_term(r.s, r.s_kind, None, None, prefix_order)
        pred = _format_term(r.p, IRI, None, None, prefix_order)
        obj = _format_term(r.o, r.o_kind, r.o_lang, r.o_datatype, prefix_order)
        return f"{subj} {pred} {obj} ."

    return rows, header, line


def _save_documents(
    ordered: DataFrame, header: list[str], line: Callable[[Row], str], path: str
) -> None:
    """Save ``ordered`` as text, one part file per partition; a
    non-empty part is the header, then one line per triple."""

    def format_partition(rows: Iterable[Row]) -> Iterator[str]:
        first = True
        for r in rows:
            if first:
                yield from header
                first = False
            yield line(r)

    ordered.rdd.mapPartitions(format_partition).saveAsTextFile(path)


def write_turtle(
    triples: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    auto_compact: bool = False,
) -> None:
    """Deterministic Turtle sink: global orderBy(s,p,o) → one text file.

    Prefix compaction uses the provided bindings; ``auto_compact=True``
    additionally synthesizes ``nsN`` prefixes for unbound namespaces
    (rdflib auto_compact analogue, transform_datamodel.py:135). The
    stable sort is the determinism contract that golden-file tests rely
    on (SURVEY O21). coalesce(1) matches the reference's single-artifact
    handoff — documented scale ceiling, use parquet for the at-scale
    representation. The sort's range sampling and the write (plus
    ``auto_prefixes``) read one materialization of ``triples``.
    """
    rows, header, line = _writer_core(triples, prefixes, auto_compact, reused=True)
    _save_documents(rows.orderBy("s", "p", "o").coalesce(1), header, line, path)


def write_turtle_sharded(
    triples: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    auto_compact: bool = False,
    num_shards: int | None = None,
) -> None:
    """The 100 TB form of the Turtle sink: N part files instead of one.

    ``write_turtle``'s global orderBy + coalesce(1) funnels the whole
    graph through ONE task — correct for the reference's single-artifact
    handoff (workflows:33-39), a wall at scale. Here the graph is
    range-partitioned on (s, p, o) and sorted WITHIN each shard, so:

      * every shard writes in parallel (no single-task stage);
      * shards are globally ordered end-to-end — concatenating the part
        files in filename order yields exactly the single-file writer's
        triple order (range boundaries only decide WHERE the cuts fall,
        which the boundary-sampling job makes run-dependent — the
        determinism contract is the concatenated triple sequence, not
        per-shard bytes);
      * every shard repeats the @prefix header, so each part file is a
        self-contained valid Turtle document (re-declaring a prefix is
        legal Turtle) — downstream consumers can parse shards
        independently, and read_turtle(path) reassembles the graph.

    ``num_shards`` defaults to the session's shuffle parallelism."""
    rows, header, line = _writer_core(triples, prefixes, auto_compact, reused=True)
    n = num_shards or rows.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ordered = rows.repartitionByRange(int(n), "s", "p", "o").sortWithinPartitions(
        "s", "p", "o"
    )
    _save_documents(ordered, header, line, path)


_SERIALIZE_MAX_TRIPLES = 1_000_000  # ~100 MB of driver strings; override per call


def serialize_turtle(
    triples: DataFrame,
    prefixes: dict[str, str] | None = None,
    max_triples: int = _SERIALIZE_MAX_TRIPLES,
    auto_compact: bool = False,
) -> str:
    """Driver-side serialization to a single string (golden tests /
    small artifacts — the reference's graph.serialize analogue,
    workflows:33-39 single-file handoff).

    Guarded: this path collects to the driver, so a graph above
    `max_triples` raises instead of silently OOM-ing the driver at 100x
    scale — callers with big graphs belong on the distributed
    `write_turtle` sink. The guard is folded into the collect itself:
    `orderBy.limit(n+1)` is a TakeOrdered (per-partition top-k + driver
    merge), so the driver receives at most max_triples+1 rows, the raise
    fires from the collected length, and the upstream plan runs in one
    action (no checkpoint unless ``auto_compact`` adds a second). An
    oversized graph pays auto_prefixes' distributed scan before raising;
    the driver-memory bound is unchanged."""
    rows, header, line = _writer_core(triples, prefixes, auto_compact, reused=auto_compact)
    collected = rows.orderBy("s", "p", "o").limit(max_triples + 1).collect()
    if len(collected) > max_triples:
        raise ValueError(
            f"serialize_turtle collects to the driver and the graph exceeds "
            f"max_triples={max_triples}; use write_turtle(df, path) for the "
            f"distributed single-artifact sink instead"
        )
    return "\n".join(header + [line(r) for r in collected]) + "\n"
