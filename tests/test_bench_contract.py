"""bench.py output contract: one detail line, then one small final JSON
line with the suite total, query and error counts and the host
contention telemetry; the full per-query timings go to the
BENCH_DETAIL.json sidecar. Query names on the command line restrict the
timed loop to those queries. The registry is monkeypatched down to two
trivial queries so the test does not pay a real suite run."""

from __future__ import annotations

import json

import pytest

CONTENTION_KEYS = {
    "load_avg_start",
    "load_avg_end",
    "other_cpu_cores",
    "bench_cpu_cores",
    "steal_cpu_cores",
}


@pytest.fixture
def bench(spark, monkeypatch, tmp_path):
    import bench
    from muurschilderingendatabase_etl_spark import registry

    def q(s, sf_dir):
        return s.range(10).selectExpr("id", "id * 2 AS v")

    monkeypatch.setattr(
        registry,
        "all_queries",
        lambda: {"flagship_revenue_by_nation": q, "zz_other": q},
    )
    # reuse the session fixture instead of building a new JVM
    monkeypatch.setattr(bench, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.chdir(tmp_path)
    return bench


def _run(bench, capsys, tmp_path, *args):
    """Run bench.main; return (final line, detail line, sidecar)."""
    bench.main(*args)
    out = capsys.readouterr().out.strip().splitlines()
    detail = json.load(open(tmp_path / "BENCH_DETAIL.json"))
    return json.loads(out[-1]), json.loads(out[-2]), detail


def test_bench_output_contract(bench, capsys, tmp_path):
    final, detail_line, detail = _run(bench, capsys, tmp_path)
    assert final["metric"] == "suite_wall_clock"
    assert final["n_queries"] == 2 and final["n_errors"] == 0
    assert final["detail_file"] == "BENCH_DETAIL.json"
    assert CONTENTION_KEYS <= set(final)
    assert set(detail["queries"]) == {"flagship_revenue_by_nation", "zz_other"}
    assert CONTENTION_KEYS <= set(detail)
    assert detail_line == detail


def test_bench_times_only_named_queries(bench, capsys, tmp_path):
    full = _run(bench, capsys, tmp_path)
    final, detail_line, detail = _run(bench, capsys, tmp_path, ["zz_other"])
    assert final["n_queries"] == 1 and final["n_errors"] == 0
    assert list(detail["queries"]) == ["zz_other"]
    assert detail_line == detail
    for whole, subset in zip(full, (final, detail_line, detail)):
        assert set(subset) == set(whole)


def test_bench_unknown_name_exits_nonzero(bench, monkeypatch):
    def no_session(app_name):
        raise AssertionError("a session was started for an unknown name")

    monkeypatch.setattr(bench, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        bench.main(["zz_other", "no_such_query"])
    assert isinstance(exc.value.code, str)  # SystemExit(str) exits with status 1
    assert "no_such_query" in exc.value.code and "zz_other" not in exc.value.code
