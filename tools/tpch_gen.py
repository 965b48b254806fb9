#!/usr/bin/env python
"""Adversarial corpus generator for scale rehearsals beyond sf0.1.

Distinct from ``datafusion_dft_spark/tools/tpch_gen.py`` (the product
surface: dft generate-tpch parity, fully distributed, hash-uniform
values). THIS generator deliberately plants the structure that
stresses the sketch operators — embedding clusters whose intra-cosine
(~0.89) sits just under the dedup threshold (the LSH worst case),
planted exact/near document duplicates, a small vocabulary that
collides SimHash chunks — because hash-uniform data exercises only the
happy path. The round-6 sf1 rehearsal with this corpus caught two
real quadratic cliffs (BENCH_SF1.json, SCALE.md) that uniform data
would have hidden.

Mirrors the driver corpus's schemas and value distributions
(TESTDATA.md; sampled from /root/testdata/sf0.1). NOT byte-identical
to the driver's data (its RNG is private) — correctness runs against
the driver's own sf0.01.

Usage: python tools/tpch_gen.py SF OUTDIR  (e.g. 1 /tmp/sf1)

Row counts scale linearly from sf0.1's observed counts. Parquet is
written in ~128k-row row groups so Spark scans parallelize (the driver
fixtures are single-row-group, which caps scans at one task).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP = 128 * 1024

# Vocabulary + categorical sets observed in the driver corpus.
WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data vector"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"]
PNAMES1 = ["large", "hot", "blue", "red", "green", "small", "dim", "shiny"]
PNAMES2 = ["ring", "bolt", "case", "wheel", "pin", "cap", "plate", "rod"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]  # ~40% en like the corpus


def _ts(days_float: np.ndarray, epoch: str) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + (days_float * 86_400_000_000).astype("timedelta64[us]"))


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), row_group_size=ROW_GROUP)
    print(f"  {name}: {table.num_rows} rows")


def generate(sf: float, out: str, seed: int = 42) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PNAMES1[i % len(PNAMES1)]} {PNAMES2[(i // 8) % len(PNAMES2)]}"
            for i in range(n_part)
        ],
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2),
    }))
    odate = rng.uniform(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n_cust, 1), n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])]),
        "o_totalprice": np.round(rng.uniform(1000, 450_000, n_ord), 2),
        "o_orderdate": _ts(np.floor(odate), "1995-01-01"),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }))
    li_ord = rng.integers(0, max(n_ord, 1), n_li)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(li_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(n_part, 1), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(n_supp, 1), n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": np.floor(rng.uniform(1, 51, n_li)),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.11, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.09, n_li), 2),
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.choice(3, n_li, p=[0.5, 0.25, 0.25])]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(np.floor(odate[li_ord]) + rng.integers(1, 95, n_li), "1995-01-01"),
    }))
    ev_ts = np.sort(rng.uniform(0, 30, n_ev))  # 30 days like the corpus
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts, "2024-01-01"),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.choice(5, n_ev, p=[0.4, 0.3, 0.1, 0.1, 0.1])]),
        # 2 decimals like the driver corpus (money-grained). 3 decimals
        # here put round(sum(value), 2) on exact half-cent MIDPOINTS in
        # ~5% of hourly buckets, where Spark's and DuckDB's different
        # double-summation orders legitimately round to different
        # pennies (measured r13: 163/3600 tumbling buckets flipped at
        # sf1). On a 2-decimal grid aggregate sums sit ON the grid —
        # accumulated fp error (~1e-10) cannot cross a 0.01 boundary.
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    }))
    # documents: bag-of-WORDS texts, ~2% exact duplicates + ~1% near-dups
    # so dedup operators have real work at every sf.
    lengths = rng.integers(8, 100, n_doc)
    texts = [" ".join(rng.choice(WORDS, ln)) for ln in lengths]
    for i in range(0, n_doc, 50):  # exact dup every 50th
        if i + 1 < n_doc:
            texts[i + 1] = texts[i]
    for i in range(25, n_doc, 100):  # near dup: one word swapped
        w = texts[i].split()
        if len(w) > 3:
            w[len(w) // 2] = "spark"
            texts[i] = " ".join(w)
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    # embeddings: 10 unit-ish cluster centers + noise -> labeled clusters,
    # matching the corpus's label-clustered structure (LSH/IVF find real
    # neighbor mass instead of uniform noise).
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.35, (n_emb, 64))
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


def main() -> int:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sf{sys.argv[1]}"
    print(f"generating sf={sf} -> {out}")
    generate(sf, out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
