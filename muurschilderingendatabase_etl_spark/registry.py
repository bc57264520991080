"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a named
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) an
equivalent DuckDB oracle SQL string. ``__spark_entry__.queries()`` /
``oracle_sql()`` simply re-export these dicts.

Order: ``all_queries()`` and ``all_oracles()`` list names in a stable
round-robin over the defining modules — the first query of every module
(in import order), then the second of each module that has one, and so
on, each module keeping its registration order. So every prefix of
length >= the number of modules covers every module, and the order
changes only when the registered queries do.

Conventions (driver contract, see repo README):
- every computed/aggregate column is aliased identically in the Spark code
  and the oracle SQL (the driver hash sorts columns by NAME);
- double-typed aggregates are rounded to 2 decimals on BOTH sides so that
  floating-point summation order can't flip the hash;
- timestamps in output are cast to DATE or formatted strings on both sides
  (Spark µs vs DuckDB ns precision would otherwise diverge).
"""

from __future__ import annotations

from collections.abc import Callable
from itertools import zip_longest
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks it rows-only (non-SQL op)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    from muurschilderingendatabase_etl_spark import queries as _  # noqa: F401


def _module_round_robin_order() -> list[str]:
    """Query names interleaved round-robin across their defining modules."""
    groups: dict[str, list[str]] = {}
    for name, fn in _QUERIES.items():
        groups.setdefault(fn.__module__, []).append(name)
    return [
        name
        for row in zip_longest(*groups.values())
        for name in row
        if name is not None
    ]


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return {name: _QUERIES[name] for name in _module_round_robin_order()}


def all_oracles() -> dict[str, str]:
    load_all()
    order = _module_round_robin_order()
    return {name: _ORACLES[name] for name in order if name in _ORACLES}
