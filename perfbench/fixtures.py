"""Fixture tables for the query workload, generated from the
repository's fixture generator (``scripts/gen_sf.py``, fixed seed).

``cached`` generates them once per checkout, in a process of its own and
outside any timed set-up, and reuses them while ``gen_sf.py`` and ``SF``
stay the same.

    python3 -m perfbench.fixtures OUT_DIR    # generate into OUT_DIR
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GEN_SF = os.path.join(ROOT, "scripts", "gen_sf.py")

# The scale bench.py runs at by default.
SF = 0.1


def generate(out_dir: str) -> str:
    spec = importlib.util.spec_from_file_location("gen_sf", GEN_SF)
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    gen_sf.gen(SF, out_dir)
    return out_dir


def cached(state_dir: str, timeout_s: float) -> str:
    """The fixture directory under ``state_dir``, keyed by a digest of
    the generator and the scale; generated first if it is not there."""
    with open(GEN_SF, "rb") as fh:
        key = hashlib.sha256(fh.read() + repr(SF).encode()).hexdigest()[:16]
    out = os.path.join(state_dir, f"sf{SF}-{key}")
    if os.path.isdir(out):
        return out
    tmp = tempfile.mkdtemp(prefix="sf-", dir=state_dir)
    try:
        subprocess.run(
            [sys.executable, "-m", "perfbench.fixtures", tmp], cwd=ROOT,
            capture_output=True, check=True, timeout=timeout_s,
        )
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    generate(sys.argv[1])
