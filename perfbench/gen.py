#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Writes the ten tables the graft query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each, with the same schemas, value domains
and key relationships as the project's sf fixtures, plus a dense matrix
`la_x.f64` (little-endian float64, row-major) for the LA ops. Everything
is drawn from `numpy.random.default_rng(seed)`, so the same seed and
sizes give byte-identical files.

Usage: python3 perfbench/gen.py <out_dir> --seed N [--workload W]
       python3 perfbench/gen.py <out_dir> --seed N --check
`--check` generates twice into sibling directories and fails unless the
two are byte-identical.
"""
import argparse
import datetime as dt
import hashlib
import json
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. `sf` scales the TPC-H tables and events the
# way the fixtures do (lineitem = 6M x sf rows); docs and embeddings are
# row counts; la_rows x la_cols is the dense X of the LA ops.
SIZES = {
    "batch": dict(sf=0.005, docs=1000, emb=1000, la_rows=1000, la_cols=1000),
    "ingest_stream": dict(sf=0.001, docs=500, emb=1000, la_rows=0, la_cols=0),
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _strs(values):
    return pa.array([str(v) for v in values], pa.string())


def _days(rng, n, start, end):
    """n timestamps at midnight, uniform over [start, end] (dates)."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    d = rng.integers(0, span + 1, n).astype("int64")
    return pa.array(base + d * np.int64(86_400_000_000), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf, docs, emb):
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(40, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _strs(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": _strs(f"NATION_{i}" for i in range(25)),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": _strs(f"Customer#{i:09d}" for i in range(n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _strs(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": _strs(f"Supplier#{i:09d}" for i in range(n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": _strs(names[rng.integers(0, len(names), n_part)]),
        "p_brand": _strs(f"Brand#{b}" for b in rng.integers(1, 26, n_part)),
        "p_type": _strs(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": _strs(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1),
                             dt.date(2001, 8, 1)),
        "o_orderpriority": _strs(np.array(PRIORITIES)[
            rng.integers(0, 5, n_ord)])})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _strs(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": _strs(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4))})
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array(base + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
        "event_type": _strs(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": _strs(f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev))})
    out["documents"] = _documents(rng, docs)
    v = rng.standard_normal((emb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype("float32").ravel(), pa.float32())
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(emb, dtype="int64")),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, emb * 64 + 1, 64, dtype="int32")), flat),
        "label": pa.array(rng.integers(0, 10, emb).astype("int32"))})
    return out


def _documents(rng, n):
    """Random word documents over the fixture's 30-word vocabulary; 5% are
    near-duplicates (another document plus the token "dup") and 0.2% are
    exact copies, so the dedup operators have pairs to find."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, 30,
                                                     rng.integers(10, 101))]))
    langs = np.array(LANGS)[rng.choice(5, n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": _strs(texts),
        "lang": _strs(langs),
        "source": _strs(f"src{i % 20}" for i in range(n)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))})


def la_matrix(seed, rows, cols):
    rng = np.random.default_rng([seed, 7])
    return np.round(rng.uniform(-1.0, 1.0, (rows, cols)), 3)


def generate(out_dir, seed, workload):
    size = SIZES[workload]
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, t in tables(seed, size["sf"], size["docs"], size["emb"]).items():
        pq.write_table(t, out / f"{name}.parquet", compression="snappy",
                       row_group_size=1 << 20)
    if size["la_rows"]:
        x = la_matrix(seed, size["la_rows"], size["la_cols"])
        x.astype("<f8").tofile(out / "la_x.f64")
    (out / "inputs.json").write_text(json.dumps(dict(
        seed=seed, workload=workload, **size), sort_keys=True))
    return out


def digest(d):
    h = hashlib.sha256()
    for f in sorted(Path(d).iterdir()):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def check_deterministic(out_dir, seed, workload):
    """Generate twice; return the digest, or raise if the bytes differ."""
    a = generate(Path(out_dir) / "a", seed, workload)
    b = generate(Path(out_dir) / "b", seed, workload)
    da, db = digest(a), digest(b)
    shutil.rmtree(b)
    if da != db:
        raise SystemExit(f"generator is not deterministic: {da} != {db}")
    return da


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", default="batch", choices=sorted(SIZES))
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    if a.check:
        print("deterministic", check_deterministic(a.out_dir, a.seed,
                                                    a.workload))
    else:
        print("wrote", generate(a.out_dir, a.seed, a.workload))
    sys.exit(0)
