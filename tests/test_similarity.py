"""ANN quality checks: the approximate searchers must actually find most
of the true neighbors (recall vs the exact brute-force top-k), not just
return k rows."""

from __future__ import annotations

import pytest

from muurschilderingendatabase_etl_spark.queries.similarity import (
    _dlit_arr,
    _ivf_topk,
    similarity_topk_bruteforce,
)
from tests.conftest import SF_DIR


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["vec_id"])
    return out


def test_ivf_recall_vs_bruteforce(spark):
    exact = _topk_sets(similarity_topk_bruteforce(spark, SF_DIR))
    approx = _topk_sets(_ivf_topk(spark, SF_DIR))
    assert set(exact) == set(approx)  # same query set, k rows each
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    recall = hits / total
    # 16 cells / nprobe 4 over 10-cluster synthetic data: most true
    # neighbors share the query's cell family (measured 0.90 at sf0.001,
    # 0.88 at sf0.01, 0.92 at sf0.1).
    assert recall >= 0.8, f"IVF recall@k collapsed: {recall:.2f}"


def test_hyperplane_lsh_recall_vs_bruteforce(spark):
    from muurschilderingendatabase_etl_spark.queries.similarity import (
        _lsh_ann,
    )

    exact = _topk_sets(similarity_topk_bruteforce(spark, SF_DIR))
    approx = _topk_sets(_lsh_ann(spark, SF_DIR))
    assert set(exact) == set(approx)
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    recall = hits / sum(len(exact[q]) for q in exact)
    # Four independent tables x hamming-3 multiprobe (93/256 buckets per
    # table): measured 0.96 at sf0.001, 0.98 at sf0.01/sf0.1
    # (scripts/exp_lsh_recall.py sweep). Chance is ~0.005. Floor at 0.92
    # — close enough under the two-round measured range (0.96–0.98) to
    # catch a real multiprobe regression, with margin for a fixture
    # refresh (r4 verdict item 7).
    assert recall >= 0.92, f"hyperplane-LSH recall@k collapsed: {recall:.2f}"


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_dlit_arr_rejects_non_finite(bad):
    # A raise, not an assert: `python -O` strips asserts, and the SQL
    # parser would then fail on 'nanD'/'infD' inside Catalyst.
    with pytest.raises(ValueError, match="non-finite"):
        _dlit_arr([1.0, bad])
