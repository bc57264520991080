"""Realistic-vocabulary corpus probe (VERDICT r4 item 2).

The driver fixture's 31-word vocab makes identical word SETS collide
quadratically, so the sf1 scale probe measured answer growth instead of
algorithmic scaling for the near-dup family (SCALE.md round-4 notes).
`gen_sf.py --corpus realistic` draws documents from a 30k-word
Zipf-Mandelbrot vocabulary and PLANTS near-dups at a bounded ~0.2%
density, recording them in a sidecar. These tests pin the properties
the scale probe relies on:

- recall of every planted near-dup pair by dedup_ngram_jaccard = 1.0;
- the candidate scheme remains lossless on this corpus (Spark output ==
  DuckDB all-pairs truth);
- incidental (non-planted, non-exact-dup) pairs stay ~zero, i.e. the
  answer size is governed by the planted density, linear in corpus.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
from gen_sf import gen  # noqa: E402
from pairminer_sf10_check import fast_oracle_sql  # noqa: E402


@pytest.fixture(scope="module")
def real_dir(tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("realfix") / "sf0.05-real")
    gen(0.05, d, corpus="realistic")
    return d


def _truth_pairs(real_dir: str) -> set[tuple[int, int]]:
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{real_dir}/documents.parquet'"
    )
    q = """
        WITH t AS (SELECT doc_id, source,
                          list_distinct(string_split(text, ' ')) AS w
                   FROM documents)
        SELECT a.doc_id, b.doc_id
        FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
              / len(list_distinct(list_concat(a.w, b.w))) >= 0.95
    """
    return {(r[0], r[1]) for r in con.sql(q).fetchall()}


def test_planted_neardup_recall_and_losslessness(spark, real_dir):
    from muurschilderingendatabase_etl_spark.queries.dedup import (
        dedup_ngram_jaccard,
    )

    planted = json.load(open(os.path.join(real_dir, "planted_neardups.json")))
    pl = {
        (min(p["doc_a"], p["doc_b"]), max(p["doc_a"], p["doc_b"]))
        for p in planted
    }
    assert pl, "fixture produced no planted pairs — grow the SF"
    truth = _truth_pairs(real_dir)
    got = {
        (r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, real_dir).collect()
    }
    assert got == truth, "candidate scheme lost/invented pairs on realistic corpus"
    assert pl <= got, f"planted recall < 1.0: missing {pl - got}"


def test_incidental_pairs_bounded(real_dir):
    """Answer size must be governed by the planted density (linear in
    corpus), not vocabulary collisions: same-source exact-dup clusters
    plus planted pairs account for everything, with at most a couple of
    coincidences tolerated."""
    planted = json.load(open(os.path.join(real_dir, "planted_neardups.json")))
    pl = {
        (min(p["doc_a"], p["doc_b"]), max(p["doc_a"], p["doc_b"]))
        for p in planted
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{real_dir}/documents.parquet'"
    )
    exact = {
        (r[0], r[1])
        for r in con.sql(
            """
            SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
            ON a.source = b.source AND a.text = b.text
               AND a.doc_id < b.doc_id
            """
        ).fetchall()
    }
    truth = _truth_pairs(real_dir)
    incidental = truth - pl - exact
    assert len(incidental) <= 2, f"vocab collisions are back: {incidental}"


# --- second-distribution differential parity -------------------------------
# The r5 minhash arity bug was caught only because a fixture refresh
# changed the data distribution. Make that protection permanent: every
# document-dependent oracle query must agree with DuckDB on the
# realistic corpus too (different vocabulary, lengths, dup structure
# than the driver fixture the main parity suite uses).

_DOC_MODULES = {
    "dedup", "quality", "textanalysis", "chunking_splits",
    "search_index", "pii_safety", "multimodal",
}


def _doc_oracle_queries():
    from muurschilderingendatabase_etl_spark import registry

    qs, oracles = registry.all_queries(), registry.all_oracles()
    return sorted(
        n for n in oracles
        if qs[n].__module__.rsplit(".", 1)[-1] in _DOC_MODULES
    )


@pytest.fixture(scope="module")
def real_ddb(real_dir):
    from muurschilderingendatabase_etl_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{real_dir}/{t}.parquet'"
        )
    yield con
    con.close()


# On this corpus the registered all-pairs oracles of these two queries
# take minutes in DuckDB (308 s and 36.5 s on a 4-core host, against
# 10 s and 5.6 s of Spark). Their prefix-filter form finds the same pairs from candidates
# and verifies them with the same expression;
# test_invariants.py::test_pairminer_prefix_filter_forms_equal_allpairs_oracles
# proves the two forms equal.
_PREFIX_FILTER_ORACLES = {"dedup_minhash_lsh", "dedup_connected_components"}


@pytest.mark.parametrize("name", _doc_oracle_queries())
def test_doc_oracle_parity_on_realistic_corpus(name, spark, real_dir, real_ddb):
    from muurschilderingendatabase_etl_spark import registry
    from tests.parity import assert_parity

    spark_pdf = registry.all_queries()[name](spark, real_dir).toPandas()
    if name in _PREFIX_FILTER_ORACLES:
        oracle_sql = fast_oracle_sql(name)
    else:
        oracle_sql = registry.all_oracles()[name]
    oracle_pdf = real_ddb.sql(oracle_sql).df()
    assert_parity(spark_pdf, oracle_pdf, name=f"{name}@realistic")
