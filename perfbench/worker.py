"""One benchmark process: set up (session, inputs, warm-up), run the
workload's timed pass, check the outputs, and write a JSON result.

``run.py`` starts this module with the run's isolated environment; it is
not meant to be run by hand. With ``--trace 1`` the pass is traced, the
ETL check adds the layer-isolation step, and the spans are written out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from perfbench import spec
from perfbench.trace import (
    RssSampler,
    SparkCounter,
    Tracer,
    calibrate,
    contention,
    cpu_snapshot,
    stream_listener,
)

PACKAGE = "muurschilderingendatabase_etl_spark"


def make_workload(name: str, spark, seed: int, workdir: str, sf_dir: str | None):
    if name == "etl_reference":
        from perfbench.etl import EtlWorkload

        return EtlWorkload(spark, seed, workdir)
    from perfbench.queries import QueryWorkload

    return QueryWorkload(spark, sf_dir)


def run_pass(workload, tracer: Tracer) -> dict:
    """One closed-loop pass over the workload's ops, timed, between two
    host-diagnostic readings. An op that raises is counted as failed and
    the pass goes on. A traced pass also counts Spark work per op."""
    times: dict[str, float] = {}
    errors: list[str] = []
    jobs: dict[str, dict] = {}
    calib0 = calibrate()
    snap0 = cpu_snapshot()
    t0 = time.perf_counter()
    for op in workload.ops():
        tracer.op = op
        if tracer.counter:
            with tracer.overhead():
                mark = tracer.counter.mark()
        try:
            times[op] = workload.run_op(op, tracer)
        except Exception:
            errors.append(f"{op}: {traceback.format_exc(limit=3)}")
        if tracer.counter:
            with tracer.overhead():
                jobs[op] = tracer.counter.since(mark)
    wall = time.perf_counter() - t0
    snap1 = cpu_snapshot()
    diag = {"calib_s": (calib0 + calibrate()) / 2, **contention(snap0, snap1, wall)}
    return {"wall_s": wall, "times": times, "errors": errors, "jobs": jobs, "diag": diag}


def install_wrappers(tracer: Tracer) -> list[tuple]:
    """Thin timing wrappers on ``tables.t`` and
    ``streaming.replay.run_to_memory``, in every package module that
    bound them. Returns what ``remove_wrappers`` needs to undo them."""
    from muurschilderingendatabase_etl_spark import tables
    from muurschilderingendatabase_etl_spark.streaming import replay

    wrappers = {
        tables.t: tracer.wrap(tables.t, "tables.t"),
        replay.run_to_memory: tracer.wrap(replay.run_to_memory, "streaming.run_to_memory"),
    }
    patched = []
    for mod in list(sys.modules.values()):
        if mod is None or not mod.__name__.startswith(PACKAGE):
            continue
        for attr in ("t", "run_to_memory"):
            fn = mod.__dict__.get(attr)
            if fn in wrappers:
                setattr(mod, attr, wrappers[fn])
                patched.append((mod, attr, fn))
    return patched


def remove_wrappers(patched: list[tuple]) -> None:
    for mod, attr, fn in patched:
        setattr(mod, attr, fn)


def layer_metrics(workload, tracer: Tracer, traced: dict, early: dict,
                  batch_ms: list[float], rss_mb: float) -> dict[str, float]:
    out = {name: 0.0 for name, _ in spec.PER_LAYER}
    out.update(early)
    totals = tracer.totals()
    self_times = tracer.self_times()
    out["tables.t_calls"] = sum(1 for s in tracer.spans if s.name == "tables.t")
    out["tables.t_s"] = totals.get("tables.t", 0.0)
    # self time: build_s leaves out the tables.t and run_to_memory spans
    # inside it, which have metrics of their own
    for key in ("build", "plan", "exec"):
        out[f"queries.{key}_s"] = self_times.get(f"queries.{key}", 0.0)
    if workload.name == "queries":
        for op, dt in traced["times"].items():
            out[f"queries.{workload.module(op)}.s"] += dt
    for key in ("jobs", "stages", "tasks", "single_task_stages", "failed_tasks"):
        out[f"spark.{key}"] = sum(j[key] for j in traced["jobs"].values())
    out["streaming.micro_batches"] = len(batch_ms)
    out["streaming.batch_ms_p50"] = statistics.median(batch_ms) if batch_ms else 0.0
    out["streaming.run_to_memory_s"] = totals.get("streaming.run_to_memory", 0.0)
    lc = tracer.layer_counts
    if lc:
        out.update({
            "rdf.source.scan_s": totals["rdf.source.scan"],
            "rdf.source.pages": lc["pages"],
            "rdf.source.bytes_in": lc["bytes_in"],
            "rdf.turtle.parse_s": totals["rdf.turtle.parse"],
            "rdf.turtle.triples_parsed": lc["triples_parsed"],
            "rdf.turtle.docs_quarantined": lc["docs_quarantined"],
            "rdf.turtle.write_s": totals["rdf.turtle.write"],
            "rdf.turtle.auto_prefixes_s": totals["rdf.turtle.auto_prefixes"],
            "rdf.turtle.bytes_out": lc["bytes_out"],
            "rdf.cleanup.clean_s": totals["rdf.cleanup.clean"],
            "rdf.cleanup.triples_dropped": lc["triples_dropped"],
            "rdf.transform.enrich_s": totals["rdf.transform.enrich"],
            "rdf.transform.fetch_calls": lc["fetch_calls"],
            "rdf.transform.keys_distinct": lc["keys_distinct"],
            "rdf.transform.fetch_useful_ratio": lc["keys_distinct"] / max(1, lc["fetch_calls"]),
            "rdf.transform.triples_enriched": lc["triples_enriched"],
            "rdf.transform.same_as_added": lc["same_as_added"],
            "rdf.transform.triples_filtered": lc["triples_filtered"],
            "rdf.pipeline.export_s": totals["rdf.pipeline.export"],
            "rdf.pipeline.export_jobs": tracer.counts["rdf.pipeline.export_jobs"],
            "rdf.pipeline.transform_s": totals["rdf.pipeline.transform"],
            "rdf.pipeline.transform_jobs": tracer.counts["rdf.pipeline.transform_jobs"],
        })
    diag = traced["diag"]
    out["host.calib_s"] = diag["calib_s"]
    out["host.steal_cores"] = diag["steal_cores"]
    out["host.other_cores"] = diag["other_cores"]
    out["process.peak_rss_mb"] = rss_mb
    # The pass's wall time over what it would have been without the work
    # only tracing does (see main).
    out["trace.overhead_ratio"] = traced["wall_s"] / (traced["wall_s"] - traced["overhead_s"])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=spec.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans")
    ap.add_argument("--sf-dir", help="the query workload's fixture tables")
    a = ap.parse_args(argv)
    workdir = os.path.join(os.getcwd(), "work")
    os.makedirs(workdir, exist_ok=True)

    early: dict[str, float] = {}
    rss = RssSampler().start() if a.trace else None
    from muurschilderingendatabase_etl_spark import registry
    from muurschilderingendatabase_etl_spark.session import get_spark

    if a.workload == "queries":
        t0 = time.perf_counter()
        registry.load_all()
        early["registry.load_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{a.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    early["session.start_s"] = time.perf_counter() - t0
    workload = make_workload(a.workload, spark, a.seed, workdir, a.sf_dir)
    workload.warm_up()
    result: dict = {"setup_s": time.time() - a.spawned_at}

    tracer = Tracer(enabled=bool(a.trace))
    listener = None
    patched: list[tuple] = []
    if a.trace:
        # The traced pass is the same first pass an untraced run times,
        # so its layers describe the same (partly cold) ops.
        listener = stream_listener(spark)
        patched = install_wrappers(tracer)
        tracer.counter = SparkCounter(spark)
    sampler_busy0 = rss.busy_s if rss else 0.0
    try:
        timed = run_pass(workload, tracer)
    finally:
        remove_wrappers(patched)
    if a.trace:
        # What only tracing added to the pass: forced planning, Spark
        # counter reads (which also wait out the listener bus), span
        # bookkeeping in the wrappers and at every call site, the RSS
        # sampler's CPU time and the stream listener's callbacks.
        timed["overhead_s"] = (tracer.overhead_s + rss.busy_s - sampler_busy0
                               + listener.busy_s)
    failed_checks, failures = workload.check(tracer)
    jvm = spark.sparkContext._jvm.System.getProperty("java.version")
    result.update({
        "times": timed["times"],
        "wall_s": timed["wall_s"],
        "attempted": len(timed["times"]) + len(timed["errors"]),
        "failed": len(timed["errors"]) + failed_checks,
        "failures": (timed["errors"] + failures)[:20],
        "diag": timed["diag"],
        "versions": {"spark": spark.version, "jvm": jvm, "python": sys.version.split()[0]},
    })
    if a.trace:
        result["per_layer"] = layer_metrics(
            workload, tracer, timed, early, listener.batch_ms, rss.stop()
        )
        result["jobs_per_op"] = {op: j["jobs"] for op, j in timed["jobs"].items()}
        if a.spans:
            tracer.dump(a.spans)
    _write(a.out, result)
    spark.stop()
    return 0


def _write(path: str, result: dict) -> None:
    with open(path, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    sys.exit(main())
