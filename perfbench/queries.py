"""The ``queries`` workload: registered queries, called through the
registry from outside the package, each materialized with the noop sink
as ``bench.py`` does.

A pass over all 186 queries takes longer than a run, so a run times one
pass over a fixed panel (``spec.PANEL``), one query per module but one,
in a fixed order. The tables are the fixed fixtures, so the seed changes
nothing here.

Each op observes its output's row count and an order-insensitive
checksum in the same execution (``DataFrame.observe``), so checking
needs no second pass. The values are compared with ``expected.json``
after the timed section; ``make_expected.py`` records them and compares
the outputs they come from with the DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql import types as T

from muurschilderingendatabase_etl_spark import registry

from perfbench.spec import PANEL, WARM_UP
from perfbench.trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def _canon(col, dtype):
    """A column form whose hash does not depend on float noise below
    1e-6 or on map entry order."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), 6)
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, (T.DoubleType, T.FloatType)
    ):
        return F.transform(col, lambda x: F.round(x.cast("double"), 6))
    if isinstance(dtype, T.MapType):
        return F.to_json(F.array_sort(F.map_entries(col)))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    return col


def observed(df: DataFrame, obs: Observation) -> DataFrame:
    """``df`` plus a row count and an order-insensitive checksum,
    collected during the same execution."""
    cols = [_canon(F.col(f"`{f.name}`"), f.dataType) for f in sorted(df.schema.fields, key=lambda f: f.name)]
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(2147483647))), F.lit(0)
        ).alias("checksum"),
    )


def materialize(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def load_expected() -> dict:
    with open(EXPECTED) as fh:
        return json.load(fh)


class QueryWorkload:
    name = "queries"

    def __init__(self, spark, sf_dir: str) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = registry.all_queries()
        self.expected = load_expected()["queries"]
        self.results: dict[str, dict] = {}

    def ops(self) -> list[str]:
        # The order is fixed: most ops run cold, and a seeded order moved
        # first-use costs from query to query between runs.
        return list(PANEL.values())

    def module(self, name: str) -> str:
        return module_of(self.queries[name])

    def warm_up(self) -> None:
        for name in WARM_UP:
            materialize(self.queries[name](self.spark, self.sf_dir))

    def run_op(self, name: str, tracer: Tracer) -> float:
        obs = Observation(name)
        t0 = time.perf_counter()
        with tracer.span("queries.build", name):
            df = self.queries[name](self.spark, self.sf_dir)
        if tracer.enabled:
            # Forced planning is extra work; it counts as tracing overhead.
            with tracer.span("queries.plan", name), tracer.overhead():
                df._jdf.queryExecution().executedPlan()
        with tracer.span("queries.exec", name):
            materialize(observed(df, obs))
        elapsed = time.perf_counter() - t0
        self.results[name] = obs.get
        return elapsed

    def check(self, tracer: Tracer) -> tuple[int, list[str]]:
        failures = []
        for name, got in self.results.items():
            want = self.expected[name]
            bad = got["rows"] != want["rows"] or (
                want["checksum"] is not None and got["checksum"] != want["checksum"]
            )
            if bad:
                failures.append(f"{name}: got {got}, expected {want}")
        return len(failures), failures
