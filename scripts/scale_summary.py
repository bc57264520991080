#!/usr/bin/env python
"""Consolidated scale dossier (r11 VERDICT item 7): one generated table —
query -> latest sf0.1 / sf1 / sf10 / sf100 seconds -> worst per-decade
ratio -> class — so the 100 TB claim is auditable at a glance.

Sources:
- ``bench_scale/*.json`` — every committed big-SF artifact. The scale
  factor is parsed from the filename (``sf100``/``sf10``/``sf1``/
  ``sf0.1``); the ROUND each artifact belongs to is derived from git:
  the smallest round-boundary commit (``round N: verdict/...``) that
  contains the artifact's last-touch commit (uncommitted/newer files
  belong to the current round). Later (round, mtime) readings win per
  (query, sf) — so adjudication re-runs supersede sweep readings the
  same way they did in the SCALE.md narrative.
- sf0.1 anchors: the highest-round ``BENCH_DETAIL_r*.json`` (the full
  per-query official bench archive; r11 VERDICT item 4).

Ratio: worst adjacent-pair per-decade geometric mean,
``(t_hi/t_lo) ** (1/log10(sf_hi/sf_lo))`` over consecutive measured SFs.
Class: ``ok`` <= 8x/decade, ``watch`` 8-15x, ``FLAG`` > 15x — the
flag-line conventions SCALE.md's narrative batches pinned. Queries whose
high readings were adjudicated in SCALE.md (named linear floors, output
growth) carry their short adjudication note instead of a bare flag.

Usage: python scripts/scale_summary.py           # print table
       python scripts/scale_summary.py --write   # regenerate SCALE.md block
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
SCALE_MD = os.path.join(ROOT, "SCALE.md")
BEGIN = "<!-- scale-dossier:begin (generated by scripts/scale_summary.py) -->"
END = "<!-- scale-dossier:end -->"

# Adjudicated high-ratio queries: SCALE.md narrative section holds the
# full reading; the dossier carries the one-line class.
ADJUDICATED = {
    "sink_sorted_data_skipping": "linear floor: sink writes N bytes (r11 watch close-out)",
    "agg_percentiles": "linear floor: exact-rank global sort; approx twin is the scale path",
    "sql_shipping_priority": "Catalyst-owned SQL plan, 12.2x honest scan growth (r11 watch)",
    "sql_local_supplier_volume": "initialPartitionNum=512 fix: 13.6x -> 4.4x/decade (r11)",
    "geo_distance_join_grid": "grid-blocked pair work, 9.3x measured over 3 decades",
    "dedup_embedding_cosine": "quadratic by contract (uniform labels); tiled Gram",
}


def _round_boundaries() -> list[tuple[int, str]]:
    out = subprocess.run(
        ["git", "log", "--format=%H %s"],
        cwd=ROOT, capture_output=True, text=True,
    )
    bounds = []
    for line in out.stdout.splitlines():
        m = re.match(r"([0-9a-f]{40}) round (\d+): verdict", line)
        if m:
            bounds.append((int(m.group(2)), m.group(1)))
    return sorted(bounds)


def _artifact_round(path: str, bounds: list[tuple[int, str]]) -> int:
    rel = os.path.relpath(path, ROOT)
    out = subprocess.run(
        ["git", "log", "-n1", "--format=%H", "--", rel],
        cwd=ROOT, capture_output=True, text=True,
    )
    touch = out.stdout.strip()
    current = (bounds[-1][0] + 1) if bounds else 1
    if not touch:
        return current  # uncommitted -> current round
    for rnd, boundary in bounds:
        ok = subprocess.run(
            ["git", "merge-base", "--is-ancestor", touch, boundary],
            cwd=ROOT, capture_output=True,
        )
        if ok.returncode == 0:
            return rnd
    return current


_SF_PAT = re.compile(r"sf(100|10|0\.1|1)(?![0-9])", re.IGNORECASE)

# Artifacts whose filename doesn't carry the scale factor (committed
# under their historical names; renaming would break the SCALE.md
# narrative's references).
_SF_OVERRIDES = {
    "TAIL30B_rerun_r11.json": 100.0,  # clean re-runs of two TAIL30B flags
    "PROBE100_b1.json": 100.0,  # r9 first sf100 probe, batch 1
    "PROBE100_b1r.json": 100.0,  # batch-1 re-run after r9 fixes
    "PROBE100_b2.json": 100.0,  # r9 first sf100 probe, batch 2
}


def _artifact_sf(fname: str) -> float | None:
    if fname in _SF_OVERRIDES:
        return _SF_OVERRIDES[fname]
    m = _SF_PAT.search(fname)
    return float(m.group(1)) if m else None


def _artifact_order(path: str) -> tuple[float, float]:
    """Within-round ordering key: (last-touch commit time, file mtime).
    Commit time survives re-checkouts (mtime doesn't); mtime breaks ties
    between artifacts landed in the same commit — e.g. an adjudication
    re-run committed together with the sweep it supersedes."""
    rel = os.path.relpath(path, ROOT)
    out = subprocess.run(
        ["git", "log", "-n1", "--format=%ct", "--", rel],
        cwd=ROOT, capture_output=True, text=True,
    )
    ct = float(out.stdout.strip() or "inf")  # uncommitted -> newest
    return (ct, os.path.getmtime(path))


def _artifact_queries(path: str) -> dict[str, float]:
    try:
        with open(path) as fh:
            d = json.load(fh)
    except (json.JSONDecodeError, OSError):
        return {}
    if not isinstance(d, dict):
        return {}
    if "queries" in d and isinstance(d["queries"], dict):
        d = d["queries"]
    # negative values are failure sentinels (e.g. the r10 memory-sink
    # OOMs recorded as -1) — not readings
    return {
        k: float(v)
        for k, v in d.items()
        if isinstance(v, (int, float)) and v > 0
    }


def collect() -> tuple[dict[str, dict[float, tuple[float, int]]], int]:
    """query -> {sf: (seconds, round_of_reading)}; plus anchor round."""
    bounds = _round_boundaries()
    readings: list[tuple[int, float, float, dict[str, float]]] = []
    bench_dir = os.path.join(ROOT, "bench_scale")
    for fname in sorted(os.listdir(bench_dir)):
        if not fname.endswith(".json"):
            continue  # .part resume fragments are superseded by clean re-runs
        sf = _artifact_sf(fname)
        if sf is None:
            continue
        path = os.path.join(bench_dir, fname)
        qs = _artifact_queries(path)
        if not qs:
            continue
        rnd = _artifact_round(path, bounds)
        readings.append((rnd, _artifact_order(path), sf, qs))

    # sf0.1 anchors: highest-round BENCH_DETAIL_r*.json
    anchor_round = 0
    anchor_path = None
    for fname in os.listdir(ROOT):
        m = re.match(r"BENCH_DETAIL_r(\d+)\.json$", fname)
        if m and int(m.group(1)) > anchor_round:
            anchor_round, anchor_path = int(m.group(1)), os.path.join(ROOT, fname)
    if anchor_path:
        readings.append(
            (anchor_round, _artifact_order(anchor_path), 0.1,
             _artifact_queries(anchor_path))
        )

    table: dict[str, dict[float, tuple[float, int]]] = {}
    for rnd, _mtime, sf, qs in sorted(readings, key=lambda r: (r[0], r[1])):
        for q, sec in qs.items():
            table.setdefault(q, {})[sf] = (sec, rnd)
    return table, anchor_round


def worst_ratio(per_sf: dict[float, tuple[float, int]]) -> float | None:
    """Worst adjacent-pair per-decade geometric ratio over the BIG SFs
    (>= 1, all measured per-process fresh-JVM). The sf0.1 anchor comes
    from the warm official suite — a different protocol whose fixed-cost
    floor (JVM + Arrow init) makes 0.1->1 ratios read as growth (the
    cont.-2 artifact class) — so it participates only when it is the
    sole lower reading available."""
    sfs = sorted(sf for sf in per_sf)
    big = [sf for sf in sfs if sf >= 1]
    use = big if len(big) >= 2 else sfs
    worst = None
    for lo, hi in zip(use, use[1:]):
        t_lo, t_hi = per_sf[lo][0], per_sf[hi][0]
        if t_lo <= 0 or t_hi <= 0:
            continue
        decades = math.log10(hi / lo)
        r = (t_hi / t_lo) ** (1 / decades)
        worst = r if worst is None else max(worst, r)
    return worst


def registered_queries() -> list[str]:
    from muurschilderingendatabase_etl_spark import registry

    registry.load_all()
    return sorted(registry.all_queries())


def build_rows():
    table, anchor_round = collect()
    rows = []
    missing = []
    for q in registered_queries():
        per_sf = table.get(q, {})
        if not any(sf >= 1 for sf in per_sf):
            missing.append(q)
        ratio = worst_ratio(per_sf)
        if ratio is None:
            cls = "no-reading"
        elif q in ADJUDICATED:
            cls = ADJUDICATED[q]
        elif ratio > 15:
            cls = "FLAG"
        elif ratio > 8:
            cls = "watch"
        else:
            cls = "ok"
        rows.append((q, per_sf, ratio, cls))
    return rows, missing, anchor_round


def _fmt(per_sf: dict[float, tuple[float, int]], sf: float) -> str:
    if sf not in per_sf:
        return "—"
    sec, rnd = per_sf[sf]
    return f"{sec:.2f} (r{rnd})"


def render(rows, missing, anchor_round) -> str:
    lines = [
        BEGIN,
        "",
        "## Consolidated scale dossier (generated)",
        "",
        f"Regenerate with `python scripts/scale_summary.py --write`. "
        f"Latest reading per (query, scale factor); sf0.1 from "
        f"`BENCH_DETAIL_r{anchor_round}.json`; rN = round of the reading. "
        "Ratio = worst adjacent-pair per-decade geometric mean. "
        "Class lines for adjudicated queries quote SCALE.md's "
        "narrative verdict.",
        "",
        "| query | sf0.1 | sf1 | sf10 | sf100 | worst x/decade | class |",
        "|---|---|---|---|---|---|---|",
    ]
    for q, per_sf, ratio, cls in sorted(rows, key=lambda r: -(r[2] or 0)):
        rtxt = f"{ratio:.1f}" if ratio is not None else "—"
        lines.append(
            f"| {q} | {_fmt(per_sf, 0.1)} | {_fmt(per_sf, 1)} "
            f"| {_fmt(per_sf, 10)} | {_fmt(per_sf, 100)} | {rtxt} | {cls} |"
        )
    lines += [
        "",
        f"Totals: {len(rows)} registered queries; "
        f"{len(rows) - len(missing)} with at least one big-SF reading; "
        f"{len(missing)} without ({', '.join(missing) or 'none'}); "
        f"{sum(1 for r in rows if r[3] == 'FLAG')} unadjudicated flags.",
        "",
        END,
    ]
    return "\n".join(lines)


def main() -> None:
    rows, missing, anchor_round = build_rows()
    block = render(rows, missing, anchor_round)
    if "--write" in sys.argv:
        with open(SCALE_MD) as fh:
            text = fh.read()
        if BEGIN in text:
            pre = text[: text.index(BEGIN)]
            post = text[text.index(END) + len(END):]
            text = pre + block + post
        else:
            text = text.rstrip("\n") + "\n\n" + block + "\n"
        with open(SCALE_MD, "w") as fh:
            fh.write(text)
        print(f"SCALE.md dossier regenerated ({len(rows)} queries).")
    else:
        print(block)


if __name__ == "__main__":
    main()
