"""bench.py output contract: one detail line, then one small final JSON
line with the suite total, query and error counts and the host
contention telemetry; the full per-query timings go to the
BENCH_DETAIL.json sidecar. The registry is monkeypatched down to two
trivial queries so the test does not pay a real suite run."""

from __future__ import annotations

import json

CONTENTION_KEYS = {
    "load_avg_start",
    "load_avg_end",
    "other_cpu_cores",
    "bench_cpu_cores",
    "steal_cpu_cores",
}


def test_bench_output_contract(spark, monkeypatch, tmp_path, capsys):
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

    bench.main()
    out = capsys.readouterr().out.strip().splitlines()
    final = json.loads(out[-1])
    assert final["metric"] == "suite_wall_clock"
    assert final["n_queries"] == 2 and final["n_errors"] == 0
    assert final["detail_file"] == "BENCH_DETAIL.json"
    assert CONTENTION_KEYS <= set(final)
    detail = json.load(open(tmp_path / "BENCH_DETAIL.json"))
    assert set(detail["queries"]) == {"flagship_revenue_by_nation", "zz_other"}
    assert CONTENTION_KEYS <= set(detail)
    assert json.loads(out[-2]) == detail
