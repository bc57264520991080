#!/usr/bin/env python
"""Driver-mimic harness: run every registered query under a VANILLA
SparkSession (no session.py confs — exactly what the round driver
builds) and compare against the DuckDB oracle the way the driver does
(sorted columns, sorted rows, 6-dp rounding, value hash).

Also flags any query whose OUTPUT schema contains array/map/struct
columns — those crash the driver's pandas canonicalizer.

Usage: python scripts/driver_mimic.py [sf_dir] [name1 name2 ...]
       (default sf0.01; extra args restrict to the named queries — used by
       the sf1 scale probe to parity-check the quadratic-risk subset)
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

NONSCALAR = ("array", "map", "struct")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    # Deliberately bare: the driver does not apply session.py's confs.
    spark = SparkSession.builder.master("local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as mod
    from muurschilderingendatabase_etl_spark.tables import TABLES

    con = duckdb.connect()
    for t_ in TABLES:
        con.sql(f"CREATE VIEW {t_} AS SELECT * FROM '{sf}/{t_}.parquet'")

    print("entry rows:", mod.entry(spark).count())

    qs, oracles = mod.queries(), mod.oracle_sql()
    only = sys.argv[2:]
    if only:
        unknown = [n for n in only if n not in qs]
        if unknown:
            sys.exit(f"unknown query names: {unknown}")
        qs = {n: qs[n] for n in only}
    n_pass = n_fail = 0
    failures: list[str] = []
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf)
            bad_cols = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in sdf.schema.fields
                if f.dataType.simpleString().startswith(NONSCALAR)
            ]
            if bad_cols:
                raise RuntimeError(f"non-scalar output columns: {bad_cols}")
            # The other driver failure class: raw timestamp columns
            # hash-diverge on Spark µs vs DuckDB ns precision. The
            # registry convention is DATE or a formatted string.
            ts_cols = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in sdf.schema.fields
                if f.dataType.simpleString().startswith("timestamp")
            ]
            if ts_cols:
                raise RuntimeError(
                    f"raw timestamp output columns (cast to date or "
                    f"format as string per registry convention): {ts_cols}"
                )
            spdf = canon(sdf.toPandas())
            if name in oracles:
                odf = canon(con.sql(oracles[name]).df())
                ok = len(spdf) == len(odf) and spdf.round(6).equals(odf.round(6))
                status = "PASS" if ok else "MISMATCH"
            else:
                status = f"rows-only:{len(spdf)}"
                ok = True
        except Exception:
            status = "ERROR\n" + traceback.format_exc(limit=5)
            ok = False
        dt = time.perf_counter() - t0
        if ok:
            n_pass += 1
        else:
            n_fail += 1
            failures.append(name)
        print(f"{name:45s} {dt:6.1f}s {status}", flush=True)

    print(f"\n{n_pass} ok / {n_fail} failed of {len(qs)}")
    if failures:
        print("FAILED:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
