"""Property-based tests for the pure (non-Spark) kernels.

These complement the fixture-scale differential tests: hypothesis
drives the pure-Python layers over arbitrary inputs, where a
fixture can only exercise the values its corpus happens to produce.
No SparkSession is needed — every test here is sub-millisecond per
example.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from muurschilderingendatabase_etl_spark.queries.dedup import (
    SIMHASH_COMBOS,
    SIMHASH_CUTS,
    SIMHASH_MAX_HAMMING,
)
from muurschilderingendatabase_etl_spark.rdf.schema import TRIPLE_COLS
from muurschilderingendatabase_etl_spark.rdf.turtle import (
    _format_term,
    parse_turtle_text,
)

# ---------------------------------------------------------------------------
# Turtle literal escaping: serialize -> parse must be the identity on the
# value for ANY text, not just the corpus the fixtures produce. Escaping
# is the classic silent-corruption defect class in hand-rolled writers.
# ---------------------------------------------------------------------------

# The tokenizer treats a quoted literal as ending at the next unescaped
# '"'; raw control characters inside are passed through (PERMISSIVE —
# real Turtle encoders emit \n etc., which _format_term does).
_literal_text = st.text(max_size=80)


def _roundtrip_object(value: str, lang: str | None = None,
                      dtype: str | None = None) -> dict:
    term = _format_term(value, "literal", lang, dtype, prefixes=[])
    doc = f"<urn:s> <urn:p> {term} .\n"
    triples = parse_turtle_text(doc)
    assert len(triples) == 1, f"expected 1 triple from {doc!r}"
    return dict(zip(TRIPLE_COLS, triples[0]))


@settings(max_examples=300, deadline=None)
@given(_literal_text)
def test_literal_escape_roundtrip(value):
    tr = _roundtrip_object(value)
    assert tr["o"] == value
    assert tr["o_kind"] == "literal"


@settings(max_examples=100, deadline=None)
@given(_literal_text, st.sampled_from(["nl", "en", "en-GB", "de"]))
def test_literal_with_lang_roundtrip(value, lang):
    tr = _roundtrip_object(value, lang=lang)
    assert tr["o"] == value
    assert tr["o_lang"] == lang


@settings(max_examples=100, deadline=None)
@given(_literal_text)
def test_literal_with_datatype_roundtrip(value):
    dtype = "http://www.w3.org/2001/XMLSchema#string"
    tr = _roundtrip_object(value, dtype=dtype)
    assert tr["o"] == value
    assert tr["o_datatype"] == dtype


# ---------------------------------------------------------------------------
# SimHash multi-chunk pigeonhole: the candidate join keys on
# (combo_id, chunk_i, chunk_j) for the C(5,2) combos. Completeness
# guarantee: ANY pair of 64-bit signatures within hamming
# SIMHASH_MAX_HAMMING shares at least one key — hamming <= 3 over 5
# chunks leaves >= 2 chunks untouched. The Spark-side test
# (test_dedup.py) brute-force-diffs the fixture corpus; this drives the
# layout over random signatures and random <=3-bit flips, so an
# off-by-one in a cut offset/width can't hide behind fixture hash luck.
# ---------------------------------------------------------------------------

def _chunks(x: int) -> list[int]:
    return [(x >> shift) & ((1 << width) - 1) for shift, width in SIMHASH_CUTS]


@settings(max_examples=500, deadline=None)
@given(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.sets(st.integers(min_value=0, max_value=63), min_size=0,
            max_size=SIMHASH_MAX_HAMMING),
)
def test_simhash_pigeonhole_complete(x, flip_bits):
    y = x
    for b in flip_bits:
        y ^= 1 << b
    cx, cy = _chunks(x), _chunks(y)
    assert any(
        cx[i] == cy[i] and cx[j] == cy[j] for i, j in SIMHASH_COMBOS
    ), f"hamming-{len(flip_bits)} pair shares no two-chunk key: {x:#x} {y:#x}"


def test_simhash_cuts_cover_all_64_bits_disjointly():
    seen: set[int] = set()
    for shift, width in SIMHASH_CUTS:
        bits = set(range(shift, shift + width))
        assert not bits & seen, "overlapping chunks"
        seen |= bits
    assert seen == set(range(64))


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.sets(st.integers(min_value=0, max_value=63),
            min_size=SIMHASH_MAX_HAMMING + 1, max_size=10),
)
def test_simhash_pigeonhole_never_false_negative_reference(x, flip_bits):
    """Pairs BEYOND the hamming bound may or may not share a key (the
    exact hamming filter after the join decides); what must hold is that
    chunk equality is consistent with the xor: a shared combo implies
    zero flipped bits inside both chunks."""
    y = x
    for b in flip_bits:
        y ^= 1 << b
    cx, cy = _chunks(x), _chunks(y)
    for i, j in SIMHASH_COMBOS:
        if cx[i] == cy[i] and cx[j] == cy[j]:
            for c in (i, j):
                shift, width = SIMHASH_CUTS[c]
                assert not any(shift <= b < shift + width for b in flip_bits)
