"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_reference,queries} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. A run's work is fixed: two ETL ops, or one
pass over the query panel. ``--seconds`` is accepted for the common
benchmark interface and does not change it. Each run gets its own TMPDIR,
SPARK_LOCAL_DIRS and SPARK_GRAFT_WAREHOUSE under
``.bench_build/perfbench/``, removed when the run ends, and starts the
measuring process (``worker.py``) with the checkout on its import path
and ``SPARK_GRAFT_CPUS`` set to the core count.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line
before it holds the run's detail: per-op times, sample count, median
and tail percentile, host diagnostics, versions and commit. The exit
code is 0 only when every output check passed. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import fixtures, spec  # noqa: E402
from perfbench.trace import geomean, percentile, tail_percentile  # noqa: E402

PACKAGE = "muurschilderingendatabase_etl_spark"
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170  # the whole run, every process included


def source_id() -> dict:
    """The commit when the checkout is a git work tree, and always a
    digest of the package sources."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def run_env(rundir: str) -> dict[str, str]:
    env = dict(os.environ)
    for key, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local"),
                     ("SPARK_GRAFT_WAREHOUSE", "warehouse")):
        env[key] = os.path.join(rundir, sub)
        os.makedirs(env[key], exist_ok=True)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    # Python workers import the benchmark's fetchers and the package
    # from the checkout, wherever the run was started.
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the process group (JVM, Python workers)
    and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def spawn(args, rundir: str, env: dict, extra: list[str], deadline: float) -> dict:
    """Run the measuring process; return its result."""
    out = os.path.join(rundir, "result.json")
    log = os.path.join(rundir, "worker.log")
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--trace", str(args.trace),
           "--out", out, *extra]
    with open(log, "w") as fh:
        spawned_at = time.time()
        proc = subprocess.Popen(
            cmd + ["--spawned-at", repr(spawned_at)], cwd=rundir, env=env,
            stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-4000:]
        reason = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"measuring process {reason}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def summarize(args, res: dict) -> tuple[dict, dict]:
    times = list(res["times"].values())
    metrics: dict[str, float] = {}
    if args.trace:
        metrics = res["per_layer"]
        units = dict(spec.PER_LAYER)
    else:
        units = dict(spec.END_TO_END)
        metrics = {
            "setup_s": res["setup_s"],
            "wall_s": res["wall_s"],
            "op_geomean_s": geomean(times),
        }
    p = tail_percentile(len(times))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "wall_s": res["wall_s"],
        "samples": len(times),
        "op_p50_s": statistics.median(times),
        "tail": {f"op_p{p}_s": percentile(times, p)} if p else None,
        "op_s": res["times"],
        "host": res["diag"],
        "versions": res["versions"],
        "nproc": os.cpu_count(),
        **source_id(),
        "failures": res["failures"],
    }
    if args.trace:
        detail["jobs_per_op"] = res["jobs_per_op"]
        detail["spans"] = os.path.relpath(spans_path(args), ROOT)
    return {k: {"value": metrics[k], "unit": units[k]} for k in units}, detail


def spans_path(args) -> str:
    return os.path.join(STATE, f"spans-{args.workload}-seed{args.seed}.jsonl")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=spec.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} is not in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    # A terminated run still stops its processes and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_LIMIT_S
    os.makedirs(STATE, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix="run-", dir=STATE)
    try:
        extra = ["--spans", spans_path(args)] if args.trace else []
        if args.workload == "queries":
            # generated before the measuring process starts, so set-up
            # time leaves the generator out
            sf_dir = fixtures.cached(STATE, timeout_s=deadline - time.monotonic())
            extra += ["--sf-dir", sf_dir]
        res = spawn(args, rundir, run_env(rundir), extra, deadline)
    except (RuntimeError, subprocess.SubprocessError) as exc:
        print(exc, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    metrics, detail = summarize(args, res)
    correct = res["failed"] == 0 and not res["failures"]
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
