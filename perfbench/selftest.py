"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # fast checks, no Spark session
    python3 perfbench/selftest.py --spark    # + a planted wrong triple, or an object
                                             #   written with the wrong kind, fails the ETL check
    python3 perfbench/selftest.py --repeat   # + job counts per op repeat across two traced runs

Run from the repository root. Exits non-zero if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, spec  # noqa: E402
from perfbench.trace import tail_percentile  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_same_seed_same_corpus() -> None:
    a, b = corpus.generate(7), corpus.generate(7)
    assert a.serialized() == b.serialized(), "same seed gave different corpora"
    assert corpus.generate(8).serialized() != a.serialized(), "seed is ignored"


def test_percentile_rule() -> None:
    # the highest percentile with at least ten samples beyond it
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(39) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(99) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99


def test_metric_names() -> None:
    names = [n for n, _ in spec.END_TO_END + spec.PER_LAYER]
    bad = [n for n in names if not NAME_RE.fullmatch(n)]
    assert not bad, f"bad metric names: {bad}"
    assert len(names) == len(set(names)), "duplicate metric names"
    assert len(spec.PER_LAYER) <= 128
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert [w["name"] for w in doc["workloads"]] == list(spec.WORKLOADS)
    for key, declared in (("end_to_end", spec.END_TO_END), ("per_layer", spec.PER_LAYER)):
        listed = [(m["name"], m["unit"]) for m in doc[key]]
        assert listed == list(declared), f"BENCHMARK.json {key} differs from spec.py"


def test_panel_shape() -> None:
    from muurschilderingendatabase_etl_spark import registry

    from perfbench import queries

    qs = registry.all_queries()
    # one query of every module but graph (see spec.PANEL)
    assert all(queries.module_of(qs[n]) == m for m, n in spec.PANEL.items())
    modules = {queries.module_of(f) for f in qs.values()} - {"graph"}
    assert sorted(spec.PANEL) == sorted(modules), "the panel must hold one query per module"
    assert all(n in qs and n not in spec.PANEL.values() for n in spec.WARM_UP)
    expected = queries.load_expected()["queries"]
    assert sorted(expected) == sorted(qs), "expected.json is out of date with the registry"


def test_model_catches_planted_triple() -> None:
    c = corpus.generate(3)
    want = corpus.model(c)
    rows = list(want.final_rows)
    assert corpus.compare("final", rows, want.final_rows) == []
    planted = rows + [(corpus.ITEM + "0", "iri", corpus.SAME_AS, "RM0", "literal", None, None)]
    assert corpus.compare("final", planted, want.final_rows), "planted triple not caught"
    i = next(i for i, t in enumerate(rows) if t[4] == corpus.IRI)
    flipped = rows[:i] + [rows[i][:4] + (corpus.LITERAL,) + rows[i][5:]] + rows[i + 1:]
    assert corpus.compare("final", flipped, want.final_rows), "object kind not compared"


def flip_object_kind(text: str) -> str:
    """The artifact with its first IRI object written as a plain literal
    of the same text, and nothing else changed."""
    prefixes = dict(re.findall(r"^@prefix ([A-Za-z0-9_-]*): <([^>]*)> \.$", text, re.M))
    lines = text.splitlines(keepends=True)
    for i, line in enumerate(lines):
        m = re.fullmatch(r"(.* )(?:<([^<>]*)>|([A-Za-z0-9_-]*):([A-Za-z0-9_.-]*)) \.\n", line)
        if m and not line.startswith("@prefix"):
            iri = m.group(2) if m.group(2) is not None else prefixes[m.group(3)] + m.group(4)
            lines[i] = f'{m.group(1)}"{iri}" .\n'
            return "".join(lines)
    raise AssertionError("no IRI object in the artifact")


def test_etl_check_catches_planted_triple() -> None:
    """The real pipeline's output passes the check; the same output with
    one wrong triple appended, or with one IRI object rewritten as a
    literal of the same text, fails it."""
    from muurschilderingendatabase_etl_spark.session import get_spark

    from perfbench.etl import EtlWorkload
    from perfbench.trace import Tracer

    spark = get_spark(app_name="perfbench-selftest",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        wl = EtlWorkload(spark, 5, work, pages=6)
        wl.run_op("etl-0", Tracer(enabled=False))
        assert wl.check(Tracer(enabled=False)) == (0, []), wl.check(Tracer(enabled=False))
        export, final = wl.outputs[0]
        line = f'<{corpus.ITEM}0> <{corpus.SAME_AS}> "RM0" .\n'.encode()
        wl.outputs[0] = (export, final + line)
        failed, msgs = wl.check(Tracer(enabled=False))
        assert failed and any("final artifact" in m for m in msgs), msgs
        wl.outputs[0] = (export, flip_object_kind(final.decode()).encode())
        failed, msgs = wl.check(Tracer(enabled=False))
        assert failed and any("final artifact" in m for m in msgs), msgs
    spark.stop()


def test_jobs_per_op_repeat() -> None:
    """Two traced runs with the same seed run the same Spark jobs per op."""
    for workload in spec.WORKLOADS:
        seen = []
        for _ in range(2):
            out = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                 "--workload", workload, "--seed", "1", "--seconds", "30", "--trace", "1"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            ).stdout.splitlines()
            seen.append(json.loads(out[-2])["detail"]["jobs_per_op"])
        assert seen[0] == seen[1], f"{workload}: job counts differ: {seen}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spark", action="store_true")
    ap.add_argument("--repeat", action="store_true")
    args = ap.parse_args()
    tests = [test_same_seed_same_corpus, test_percentile_rule, test_metric_names,
             test_panel_shape, test_model_catches_planted_triple]
    if args.spark:
        tests.append(test_etl_check_catches_planted_triple)
    if args.repeat:
        tests.append(test_jobs_per_op_repeat)
    failed = 0
    for test in tests:
        try:
            test()
            print(f"PASS {test.__name__}")
        except Exception as exc:  # report every test, then fail
            failed += 1
            print(f"FAIL {test.__name__}: {exc!r}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
