"""Linear-time n-gram / sliding-window expression builders, plus the
measured decision rules for WHERE each form wins (all timings sf1,
50k docs, noop sink):

1. Per-doc gram ARRAY output (minhash shingles, fingerprint windows):
   use the slice + zip_with builders below. The textbook
   ``transform(sequence(0, n-k), i -> f(element_at(w, i+1), …))`` is a
   trap — Catalyst's projection collapsing re-inlines whatever
   expression produced ``w`` (even a column projected in the previous
   select) into EVERY ``element_at`` inside the lambda, O(n²) per doc:
   the minhash shingle phase fell 43 s → 3.5 s on this change alone.
   (Within ONE projection, codegen's subexpression elimination usually
   dedupes repeated references to the same derived column — the blowup
   comes from the per-ELEMENT lambda references.)
2. Gram STREAM consumed row-at-a-time (shared-span dedup,
   contamination): ``gram_rows`` explodes the INDEX and builds each gram
   after the Generate — ``explode(sequence(0, size(w)-k))`` then
   ``array_join(slice(w, i+1, k))``. Generate is itself a
   projection-collapse barrier, each gram string is built exactly once,
   and nothing is materialized per doc: 2.0 s vs 7.1 s (spans, k=4)
   and 5.9 s vs 10.8 s (contamination, k=5 + md5) against the
   pre-built-array form.
3. ``sequence(0, -1)`` counts DOWN — the textbook array form crashes
   on docs shorter than k words; the slice builders clamp at 0 and
   return empty. ``gram_rows`` filters ``size(w) >= k`` first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def word_ngrams(words: Column | str, k: int, sep: str = " ") -> Column:
    """Order-preserving array of ``k``-gram strings (joined by ``sep``)
    over a words array — ``n-k+1`` entries, empty when ``n < k``.
    Built from ``k`` shifted slices combined element-wise, one zip_with
    per extra gram position."""
    w = _col(words)
    cnt = F.greatest(F.size(w) - (k - 1), F.lit(0))
    acc = F.slice(w, 1, cnt)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(w, j + 1, cnt), lambda x, y: F.concat_ws(sep, x, y)
        )
    return acc


def sliding_min(arr: Column | str, k: int) -> Column:
    """Minimum over each length-``k`` sliding window of a numeric array
    (``n-k+1`` entries, empty when ``n < k``) — element-wise ``least``
    over ``k`` shifted slices, same linear-cost rationale as
    ``word_ngrams``."""
    a = _col(arr)
    cnt = F.greatest(F.size(a) - (k - 1), F.lit(0))
    acc = F.slice(a, 1, cnt)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(a, j + 1, cnt), lambda x, y: F.least(x, y)
        )
    return acc


def gram_rows(df: DataFrame, words: str, k: int, *keep: str) -> DataFrame:
    """One row per word ``k``-gram of the ``words`` array column of
    ``df`` (decision rule 2): the ``keep`` columns plus ``gram``, the
    gram's words joined by a space. Rows with fewer than ``k`` words
    yield no gram."""
    return (
        df.where(F.size(words) >= k)
        .select(
            *keep, words, F.explode(F.sequence(F.lit(0), F.size(words) - k)).alias("i")
        )
        .select(
            *keep, F.array_join(F.slice(words, F.col("i") + 1, k), " ").alias("gram")
        )
    )
