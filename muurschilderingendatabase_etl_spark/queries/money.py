"""Exact money aggregation helpers.

Money sums must be EXACT and summation-order-independent: double
summation of 10M+ inexact terms drifts ~1 ulp at 1e11-1e12 magnitude,
and ROUND(x, 2) flips a cent whenever the true value sits near a
boundary (seen at sf10 in agg_pricing_summary and
join_broadcast_dim). The first fix typed the
whole expression DECIMAL end-to-end, which is exact but pays a 128-bit
multiply chain per row (~2-3x on the cold query at sf0.1).

This module keeps exactness while staying on codegen's vectorized
integer path: every money input is 2-decimal by construction (TPC-H
money semantics), so ROUND(x * 100) recovers the exact integer cents
(any value <= 2^53 / 100 round-trips losslessly through double), the
discount/tax factors are exact integer percents, the per-row products
stay in LONG (max ~1.1e11 per row, far inside int64), and only the
final SUM runs in DECIMAL(20,0) -> (30,0), which is overflow-free at
any corpus size and whose accumulator stays on Spark Decimal's compact
long representation until the running sum passes 1e18. Measured at
sf0.1: 3.6 -> 1.3 s cold on the Q1 shape, values bit-identical to the
all-DECIMAL form and to the DuckDB oracle (which keeps the clearer
all-DECIMAL spelling — both compute the same exact rational).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def cents(money: Column) -> Column:
    """Exact integer cents of a 2-decimal money double."""
    return F.round(money * 100).cast("long")


def pct_factor(rate: Column, base: int) -> Column:
    """(base +/- rate) as exact integer percent: pass base=100 for
    (1 + rate) style factors and feed a negated rate for (1 - rate)."""
    return F.lit(base) + F.round(rate * 100).cast("long")


_SPLIT_BITS = 20
_SPLIT = 1 << _SPLIT_BITS


def _exact_long_sum(col: Column) -> Column:
    """Exact SUM of a LONG column with the per-row work entirely on
    codegen's vectorized long path (narrower types, less per-row
    work): the per-row value is split into hi = x >> 20
    and lo = x & (2^20 - 1) (an identity for any two's-complement
    long), each half is summed in LONG, and the exact total
    hi·2^20 + lo is reconstructed in DECIMAL once per GROUP instead of
    per row. The old ``SUM(CAST(x AS DECIMAL(20,0)))`` paid a Decimal
    box + decimal-accumulator update per row — measured 2× on the Q1
    shape at sf0.1 (1.15 s → 0.6 s), values bit-identical.

    Overflow headroom (ANSI mode makes any breach LOUD, not silent):
    money terms are ≤ ~4.4e11 (e6 worst case), so hi ≤ ~4.2e5 and the
    hi-sum holds to ~2e13 rows per group; the lo-sum holds to ~8.8e12
    rows per group — two orders past the 100 TB design point, and far
    past where the old DECIMAL(30,0) final sum overflows anyway."""
    hi = F.sum(F.shiftright(col, _SPLIT_BITS))
    lo = F.sum(col.bitwiseAND(F.lit(_SPLIT - 1)))
    return hi.cast("decimal(38,0)") * _SPLIT + lo


def sum_money(money: Column) -> Column:
    """Exact SUM of a 2-dp money column, emitted as the rounded double
    both engines agree on."""
    return F.round(_exact_long_sum(cents(money)) / 100, 2).cast("double")


def sum_money_bounded(money: Column) -> Column:
    """Exact SUM of a 2-dp money column for BOUNDED groups: the cents
    accumulate in LONG, so the aggregation state is 8 bytes instead of
    a boxed decimal. Use where the per-group cent total is structurally
    far below 2^63 — per-session / per-(user, window) streaming groups,
    where the decimal state was measured to matter: at sf10,
    stream_session_window's 9.5M decimal session states OOMed an 8 GB
    heap where the long (and an earlier double) state fits. Same
    emitted double as sum_money: the long sum is exact, /100 is the
    nearest double of the exact rational, and ROUND(x, 2) of that is
    bit-equal to the oracle's CAST(exact DECIMAL AS DOUBLE)."""
    return F.round(F.sum(cents(money)) / 100, 2).cast("double")


def sum_disc_price(price: Column, discount: Column) -> Column:
    """Exact SUM(price * (1 - discount)) for 2-dp inputs."""
    e4 = cents(price) * pct_factor(-discount, 100)
    return F.round(_exact_long_sum(e4) / 10000, 2).cast("double")


def sum_charge(price: Column, discount: Column, tax: Column) -> Column:
    """Exact SUM(price * (1 - discount) * (1 + tax)) for 2-dp inputs."""
    e6 = (
        cents(price)
        * pct_factor(-discount, 100)
        * pct_factor(tax, 100)
    )
    return F.round(_exact_long_sum(e6) / 1000000, 2).cast("double")


# SQL-text spelling of sum_disc_price, for the SQL front-door queries.
# Same hi/lo long-split as _exact_long_sum, so the SQL twin does not pay
# the per-row DECIMAL accumulator the DataFrame form avoids (2x on the Q1
# shape at sf0.1). Identity: for any two's-complement
# long e4, e4 == (e4 >> 20) * 2^20 + (e4 & (2^20 - 1)); both halves sum on
# the vectorized LONG codegen path and the exact total is reconstructed in
# DECIMAL once per group. Same ANSI overflow-loudness and ~1e13 rows/group
# headroom as the DataFrame form; values bit-identical (oracle keeps the
# clearer all-DECIMAL spelling — same exact rational).
_SQL_E4 = """(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))"""
SQL_SUM_DISC_PRICE = f"""CAST(ROUND(
      (CAST(SUM(SHIFTRIGHT({_SQL_E4}, {_SPLIT_BITS})) AS DECIMAL(38,0))
         * {_SPLIT}
       + SUM({_SQL_E4} & {_SPLIT - 1}))
    / 10000, 2) AS DOUBLE)"""
