#!/usr/bin/env python
"""Synthetic fixture generator for scale probes beyond the driver-supplied SFs.

Reproduces the /root/testdata schema and value domains (verified against
sf0.001/0.01/0.1 in FIXTURES.md) at arbitrary scale factors, so bench.py and
the oracle-parity suite can be pointed at sf1+ data. The driver's fixtures are
read-only and stop at sf0.1; everything here is derived from the *observed*
distributions of those files (profiled 2026-08-14, see SCALE.md):

- lineitem rows are independent draws (orderkey uniform) -> per-order line
  count is Poisson(4) with ~e^-4 orphan orders, matching the driver data.
- l_shipdate = o_orderdate(of the drawn order) + U[1,95] days.
- events.ts = sorted uniform micros over 2024-01-01 .. 2024-01-31 (30 days);
  value ~ Exp(mean 50) rounded to cents (observed mean 49.9 / median 34.8).
- documents: 10..100 words from the 31-word vocab, ~0.2% exact-dup rate,
  lang weights {en: .41, de/es/fr/zh: ~.1475}, sources src0..src19.
  (--corpus realistic swaps in a 30k-word Zipf-Mandelbrot vocab with
  planted near-dups + sidecar — see REAL_VOCAB comment below.)
- embeddings: dim-64 L2-normalised gaussians, label uniform 0..9 (the driver
  labels are NOT clustered -- within-label cosine ~= 0 -- so neither are ours).

Row counts scale as: customer 150k*sf, supplier 10k*sf, part 200k*sf,
orders 1.5M*sf, lineitem 6M*sf, events 1M*sf (users 15k*sf),
documents 50k*sf, embeddings 20k*sf (floors keep tiny SFs non-degenerate).

Deterministic: every table seeds its own numpy Generator from (SEED, table),
independent of generation order. Usage:

    python scripts/gen_sf.py --sf 1 --out /root/repo/.scratch/sf1
"""

from __future__ import annotations

import argparse
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260814

# --corpus realistic: documents drawn from a Zipf-Mandelbrot vocabulary
# instead of the 31-word fixture vocab. The fixture vocab makes random
# word SETS collide quadratically (SCALE.md: the sf1 near-dup probe
# measured answer growth, not algorithms); a 30k-word
# vocab with a flattened head (q=100 keeps the top word at ~0.2% of
# tokens, so short docs aren't all head words) drives incidental
# J >= 0.95 pairs to ~zero, and TRUE near-dups are PLANTED at a bounded
# ~0.2% density with a sidecar (planted_neardups.json) so probes can
# assert recall = 1.0.
REAL_VOCAB = 30_000
REAL_ZIPF_S = 1.07
REAL_ZIPF_Q = 100.0

VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["F", "O", "P"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUSES = np.array(["F", "O"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PNOUNS = np.array(["ring", "box", "cog", "dial", "gear", "lens", "pin", "rod"])
PSIZES = np.array(["large", "small", "tiny", "huge", "midi"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype("int64")
DAY_US = 86_400_000_000


def rng(table: str) -> np.random.Generator:
    # zlib.crc32 is stable across processes (str hash() is randomized).
    return np.random.default_rng([SEED, zlib.crc32(table.encode())])


def counts(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": max(6000, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "users": max(1000, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    print(f"  {name}: {table.num_rows} rows")


def _realistic_texts(
    g: np.random.Generator, nd: int
) -> tuple[list[str], list[tuple[int, int, float]]]:
    """Zipf-Mandelbrot corpus with planted, sidecar-recorded near-dups.

    p(rank r) ∝ 1/(r+q)^s over REAL_VOCAB words; q=100 flattens the
    head so the most common word covers ~0.2% of tokens and short docs
    are not all head words (which would recreate the fixture vocab's
    quadratic incidental set collisions). ~0.2% of docs are exact
    copies of an earlier doc (matching the driver fixture's dup rate)
    and another ~0.2% are NEAR-copies: r = min(2, len//40) random word
    positions replaced, which bounds word-set Jaccard at
    (L-r)/(L+r) >= 0.951 — safely above the τ=0.95 cut (pairs whose
    realized set Jaccard would dip below fall back to exact copies).
    """
    ranks = np.arange(1, REAL_VOCAB + 1, dtype=np.float64)
    p = 1.0 / (ranks + REAL_ZIPF_Q) ** REAL_ZIPF_S
    p /= p.sum()
    lens = g.integers(10, 101, nd)
    flat = g.choice(REAL_VOCAB, int(lens.sum()), p=p)
    offs = np.concatenate([[0], np.cumsum(lens)])
    words = [flat[offs[i]:offs[i + 1]] for i in range(nd)]
    for i in np.flatnonzero(g.random(nd) < 0.002):
        if i > 0:
            words[i] = words[int(g.integers(0, i))].copy()
    planted: list[tuple[int, int, float]] = []
    for i in np.flatnonzero(g.random(nd) < 0.002):
        if i == 0:
            continue
        j = int(g.integers(0, i))
        w = words[j].copy()
        r = min(2, len(w) // 40)
        if r:
            w[g.choice(len(w), r, replace=False)] = g.integers(0, REAL_VOCAB, r)
        a_set, b_set = set(words[j].tolist()), set(w.tolist())
        jac = len(a_set & b_set) / len(a_set | b_set)
        if jac < 0.951:
            w, jac = words[j].copy(), 1.0
        words[i] = w
        planted.append((j, i, jac))
    texts = [" ".join(f"w{t}" for t in w) for w in words]
    return texts, planted


def gen(sf: float, out: str, skew: float = 0.0, corpus: str = "fixture") -> None:
    """Generate all ten tables at scale ``sf`` into ``out``.

    ``skew`` > 0 makes the fixture deliberately hot-keyed for stress
    tests: that fraction of events lands on user_id=0 and that fraction
    of documents lands on source='src0' — the keys the sessionize window
    partitions by and the jaccard blocker blocks on.
    """
    os.makedirs(out, exist_ok=True)
    n = counts(sf)

    write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))

    write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    g = rng("customer")
    nc = n["customer"]
    write(out, "customer", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(g.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(g.uniform(-1000, 10_000, nc), 2),
        "c_mktsegment": SEGMENTS[g.integers(0, 5, nc)],
    }))

    g = rng("supplier")
    ns = n["supplier"]
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(g.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(g.uniform(-1000, 10_000, ns), 2),
    }))

    g = rng("part")
    np_ = n["part"]
    sizes = PSIZES[g.integers(0, len(PSIZES), np_)]
    nouns = PNOUNS[g.integers(0, len(PNOUNS), np_)]
    write(out, "part", pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(sizes, " "), nouns)),
        "p_brand": pa.array([f"Brand#{i}" for i in g.integers(1, 26, np_)]),
        "p_type": PTYPES[g.integers(0, len(PTYPES), np_)],
        "p_size": pa.array(g.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(g.uniform(900, 1000, np_), 2),
    }))

    g = rng("orders")
    no = n["orders"]
    # o_orderdate: uniform days over 1995-01-01 .. 2001-08-01 (2404 days).
    odate_day = g.integers(0, 2405, no)
    odate = (
        np.datetime64("1995-01-01", "us").astype("int64") + odate_day * DAY_US
    )
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(g.integers(0, nc, no), pa.int64()),
        "o_orderstatus": STATUSES[g.integers(0, 3, no)],
        "o_totalprice": np.round(g.uniform(1000, 400_000, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[g.integers(0, 5, no)],
    }))

    g = rng("lineitem")
    nl = n["lineitem"]
    lok = g.integers(0, no, nl)
    qty = g.integers(1, 51, nl).astype(np.float64)
    write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(g.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2100, nl), 2),
        "l_discount": np.round(g.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": RETURNFLAGS[g.integers(0, 3, nl)],
        "l_linestatus": LINESTATUSES[g.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            odate[lok] + g.integers(1, 96, nl) * DAY_US, pa.timestamp("us")
        ),
    }))

    g = rng("events")
    ne = n["events"]
    ts = np.sort(g.integers(0, 30 * DAY_US, ne)) + EPOCH_2024
    uid = g.integers(0, n["users"], ne)
    if skew > 0:
        uid[g.random(ne) < skew] = 0
    write(out, "events", pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(uid, pa.int64()),
        "event_type": EVENT_TYPES[g.integers(0, 5, ne)],
        "value": np.round(np.minimum(g.exponential(50.0, ne), 599.99), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, ne)]),
    }))

    g = rng("documents")
    nd = n["documents"]
    planted: list[tuple[int, int, float]] = []
    if corpus == "realistic":
        texts, planted = _realistic_texts(g, nd)
    else:
        lens = g.integers(10, 101, nd)
        flat = VOCAB[g.integers(0, len(VOCAB), int(lens.sum()))]
        offs = np.concatenate([[0], np.cumsum(lens)])
        texts = [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(nd)]
        # ~0.2% exact-dup rate (driver sf0.1: 8 dup pairs in 5000 docs).
        for i in np.flatnonzero(g.random(nd) < 0.002):
            if i > 0:
                texts[i] = texts[g.integers(0, i)]
    src = g.integers(0, 20, nd)
    if skew > 0:
        src[g.random(nd) < skew] = 0
    if planted:
        # A planted near-dup must share its original's source (the
        # jaccard query blocks on source); record the pairs for the
        # recall probe.
        for a_, b_, _ in planted:
            src[b_] = src[a_]
        json.dump(
            [
                {"doc_a": int(a_), "doc_b": int(b_), "jaccard": round(float(jc), 6)}
                for a_, b_, jc in planted
            ],
            open(os.path.join(out, "planted_neardups.json"), "w"),
        )
        print(f"  planted near-dups: {len(planted)} pairs (sidecar json)")
    write(out, "documents", pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": LANGS[g.choice(len(LANGS), nd, p=LANG_P)],
        "source": pa.array([f"src{s}" for s in src]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    g = rng("embeddings")
    nv = n["embeddings"]
    vecs = g.normal(size=(nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, nv), pa.int32()),
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--skew", type=float, default=0.0)
    ap.add_argument(
        "--corpus", choices=["fixture", "realistic"], default="fixture"
    )
    a = ap.parse_args()
    print(f"generating sf{a.sf} (skew={a.skew}, corpus={a.corpus}) -> {a.out}")
    gen(a.sf, a.out, skew=a.skew, corpus=a.corpus)


if __name__ == "__main__":
    main()
