"""Record ``expected.json``: for every registered query, the row count and
checksum of its output on the benchmark's fixture tables, and a
reference time that sizes the query panel.

Every query runs twice, in opposite orders: a checksum that differs
between the two runs is stored as ``null`` (row count only); a row count
that differs aborts. Then each query's Spark output is compared with its
DuckDB oracle where one exists (sorted columns and rows, 6-dp rounding,
as ``scripts/driver_mimic.py`` compares) and the outcome is stored as
``oracle``: true, false, ``"timeout"`` (the oracle ran longer than
``ORACLE_TIMEOUT_S``) or null (no oracle). A mismatch exits non-zero.

    python3 perfbench/make_expected.py

Run from the repository root; writes ``perfbench/expected.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
from pyspark.sql import Observation  # noqa: E402

from muurschilderingendatabase_etl_spark import registry  # noqa: E402
from muurschilderingendatabase_etl_spark.session import get_spark  # noqa: E402
from muurschilderingendatabase_etl_spark.tables import TABLES  # noqa: E402
from perfbench import fixtures, queries  # noqa: E402


# Some all-pairs dedup oracles take minutes in DuckDB at sf0.1.
ORACLE_TIMEOUT_S = 45.0


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True).round(6)


def run_pass(spark, qs, names, sf_dir):
    out = {}
    for name in names:
        obs = Observation(name)
        t0 = time.perf_counter()
        queries.materialize(queries.observed(qs[name](spark, sf_dir), obs))
        out[name] = (time.perf_counter() - t0, obs.get)
    return out


def oracle_matches(con, sql: str, got, timeout_s: float) -> bool | None:
    """Whether the oracle's rows equal ``got``; None if DuckDB takes
    longer than ``timeout_s``."""
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        want = canon(con.sql(sql).df())
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()
    return len(got) == len(want) and got.equals(want)


def write(records: dict) -> None:
    doc = {"sf": fixtures.SF, "fixtures": "scripts/gen_sf.py", "queries": records}
    with open(queries.EXPECTED, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> None:
    work = tempfile.mkdtemp(prefix="perfbench-expected-")
    try:
        sf_dir = fixtures.generate(os.path.join(work, "sf"))
        spark = get_spark(app_name="perfbench-expected")
        spark.sparkContext.setLogLevel("ERROR")
        qs = registry.all_queries()
        oracles = registry.all_oracles()
        names = sorted(qs)
        queries.materialize(qs["flagship_revenue_by_nation"](spark, sf_dir))
        first = run_pass(spark, qs, names, sf_dir)
        second = run_pass(spark, qs, names[::-1], sf_dir)
        records = {}
        for name in names:
            (_, a), (ref_s, b) = first[name], second[name]
            if a["rows"] != b["rows"]:
                sys.exit(f"{name}: row count differs between runs ({a} vs {b})")
            records[name] = {
                "module": queries.module_of(qs[name]),
                "rows": a["rows"],
                "checksum": a["checksum"] if a["checksum"] == b["checksum"] else None,
                "oracle": None,
                "ref_s": round(ref_s, 3),
            }
        write(records)

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        mismatched = []
        for name in names:
            if name not in oracles:
                continue
            got = canon(qs[name](spark, sf_dir).toPandas())
            ok = oracle_matches(con, oracles[name], got, ORACLE_TIMEOUT_S)
            records[name]["oracle"] = "timeout" if ok is None else ok
            if ok is False:
                mismatched.append(name)
            print(name, records[name], flush=True)
        write(records)
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if mismatched:
        sys.exit(f"Spark output differs from the DuckDB oracle: {mismatched}")


if __name__ == "__main__":
    main()
