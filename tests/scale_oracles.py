"""Fast DuckDB forms of registered oracles that are quadratic at scale.

The registered oracles of ``skyline_pareto_frontier``,
``geo_distance_join_grid`` and the three pair-mining dedup queries are
the clearest statement of each query's semantics, but quadratic: at sf10
they run for tens of minutes to hours. Each form here computes the same rows with a
sub-quadratic plan. ``tests/test_invariants.py`` proves every form equal
to its registered oracle on real sf0.01 data, so a check at scale against
these forms inherits that proof; ``tests/test_realistic_corpus.py`` uses
the pair-miner forms where the all-pairs oracle is too slow for Tier-1.
The sf10 results are recorded in ``bench_scale/PARITY_real-sf10.json``
and SCALE.md.
"""

from __future__ import annotations

from muurschilderingendatabase_etl_spark.queries.geo import (
    CELL_DEG,
    RADIUS_KM,
    _LAT,
    _LON,
    _haversine_sql,
)

# Skyline in O(n log n): a part survives iff no strictly-cheaper part in
# its brand reaches its size (running MAX(p_size) over prices below it)
# and no same-price part in its brand strictly exceeds its size — the
# dominance predicate split by the price comparison (q.price < p.price |
# q.price = p.price), so it agrees row-for-row with the NOT EXISTS form.
FAST_SKYLINE = """
WITH pp AS (
  SELECT p_brand, p_retailprice, MAX(p_size) AS ms
  FROM part GROUP BY 1, 2
),
run AS (
  SELECT p_brand, p_retailprice, ms,
         MAX(ms) OVER (
           PARTITION BY p_brand ORDER BY p_retailprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_ms
  FROM pp
)
SELECT p.p_brand, p.p_partkey, p.p_size,
       ROUND(p.p_retailprice, 2) AS p_retailprice
FROM part p
JOIN run r
  ON r.p_brand = p.p_brand AND r.p_retailprice = p.p_retailprice
WHERE (r.prev_ms IS NULL OR r.prev_ms < p.p_size)
  AND r.ms = p.p_size
"""

N_CELLS_LON = 360 // CELL_DEG  # 72-cell antimeridian ring


def grid_oracle_sql() -> str:
    """DuckDB spelling of the grid plan: the same 15-cell neighborhood
    and antimeridian ring wrap as the Spark plan, with DuckDB's own libm
    trig, so cross-engine arithmetic is still independently exercised."""
    hav = _haversine_sql("s.lat", "s.lon", "c.lat", "c.lon")
    half = N_CELLS_LON // 2
    return f"""
    WITH s0 AS (
      SELECT s_suppkey,
             {_LAT.format(k="s_suppkey")} AS lat,
             {_LON.format(k="s_suppkey")} AS lon
      FROM supplier
    ),
    c AS (
      SELECT c_custkey,
             {_LAT.format(k="c_custkey")} AS lat,
             {_LON.format(k="c_custkey")} AS lon,
             FLOOR({_LAT.format(k="c_custkey")} / {CELL_DEG}) AS cell_lat,
             FLOOR({_LON.format(k="c_custkey")} / {CELL_DEG}) AS cell_lon
      FROM customer
    ),
    offs AS (
      SELECT dla.generate_series AS dla, dlo.generate_series AS dlo
      FROM generate_series(-1, 1) dla, generate_series(-2, 2) dlo
    ),
    s AS (
      SELECT s0.*,
             FLOOR(lat / {CELL_DEG}) + dla AS p_cell_lat,
             ((CAST(FLOOR(lon / {CELL_DEG}) + dlo AS BIGINT) + {half})
              % {N_CELLS_LON} + {N_CELLS_LON}) % {N_CELLS_LON} - {half}
               AS p_cell_lon
      FROM s0, offs
    )
    SELECT s.s_suppkey,
      CAST(COUNT(*) AS BIGINT) AS n_within,
      ROUND(MIN({hav}), 2) AS nearest_km
    FROM s JOIN c
      ON c.cell_lat = s.p_cell_lat AND c.cell_lon = s.p_cell_lon
     AND abs(c.lat - s.lat) <= 4.51
     AND {hav} <= {RADIUS_KM}
    GROUP BY s.s_suppkey
    """


def _fast_pairs_sql(threshold: float, shingles: bool, per_source: bool) -> str:
    """Candidate pairs via prefix filtering + exact jaccard verify
    (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07 — a
    different algorithm from the Spark side's pigeonhole partition
    signatures, so cross-checking power is kept).

    Under any fixed global token order, Jaccard(A,B) >= t implies
    |A∩B| >= ceil(t·|B|) =: α — and α common tokens cannot all sit in
    B's last α-1 positions, so at least one common token lies in B's
    first |B| - α + 1 tokens ("prefix"). Joining every doc's prefix
    tokens (rarest-first order makes them low-frequency) against ALL
    tokens of other docs therefore finds every qualifying pair.

    Emits (doc_a, doc_b, jaccard) for pairs meeting the threshold —
    value-identical to the registered all-pairs form because the final
    jaccard is the same list_intersect expression on the same lists.
    """
    if shingles:
        units = """
    units AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, len(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             )) AS u
      FROM (SELECT doc_id, source, string_split(text, ' ') AS w
            FROM documents)
      WHERE len(w) >= 3
    )"""
    else:
        units = """
    units AS (
      SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS u
      FROM documents
    )"""
    blk = "a.source = b.source AND" if per_source else ""
    blk_tok = "p.source = t.source AND" if per_source else ""
    return f"""
    WITH {units},
    tok AS (
      SELECT doc_id, source, un.tk AS tk, len(u) AS nu
      FROM units, UNNEST(u) un(tk)
    ),
    df AS (SELECT tk, COUNT(*) AS df FROM tok GROUP BY tk),
    ranked AS (
      SELECT tok.doc_id, tok.source, tok.tk, tok.nu,
             row_number() OVER (
               PARTITION BY tok.doc_id ORDER BY df.df, tok.tk
             ) AS rn
      FROM tok JOIN df USING (tk)
    ),
    prefix AS (
      -- first |u| - ceil(t*|u|) + 1 tokens in rarest-first order.
      -- The 1e-9 guard keeps binary-inexact products (0.8*5 =
      -- 4.0000000000000002) from CEILing one slot too high, which
      -- would shorten the prefix and drop qualifying pairs.
      SELECT doc_id, source, tk FROM ranked
      WHERE rn <= nu - CEIL({threshold} * nu - 1e-9) + 1
    ),
    cand AS (
      SELECT DISTINCT LEAST(p.doc_id, t.doc_id) AS doc_a,
                      GREATEST(p.doc_id, t.doc_id) AS doc_b
      FROM prefix p JOIN tok t
        ON {blk_tok} p.tk = t.tk AND p.doc_id <> t.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(a.u, b.u)) AS DOUBLE)
               / len(list_distinct(list_concat(a.u, b.u))) AS j
      FROM cand c
      JOIN units a ON a.doc_id = c.doc_a
      JOIN units b ON b.doc_id = c.doc_b
      WHERE {blk} TRUE
    )
    SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
    FROM verified WHERE j >= {threshold}
    """


def fast_oracle_sql(name: str) -> str:
    """Prefix-filter form of the named pair-mining query's oracle."""
    if name == "dedup_ngram_jaccard":
        return _fast_pairs_sql(0.95, shingles=False, per_source=True)
    if name == "dedup_minhash_lsh":
        return _fast_pairs_sql(0.9, shingles=True, per_source=False)
    if name == "dedup_connected_components":
        pairs = _fast_pairs_sql(0.95, shingles=False, per_source=True)
        return f"""
    WITH RECURSIVE base AS ({pairs}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM base
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM base
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r
      FROM edges e JOIN reach ON reach.node = e.dst
    )
    SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach
    GROUP BY node
    """
    raise KeyError(name)
