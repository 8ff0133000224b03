"""Seeded generator for the catalog fixture the benchmark's query workloads read.

The tables have the schemas the query catalog expects (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
and the distributions of the project's sf fixtures: uniform foreign keys,
uniform categorical columns, exponential event gaps and values, word-salad
documents over a 30-word vocabulary with appended-" dup" near-duplicates,
and unit-norm 64-d float embeddings. Row counts scale with `sf` the way the
fixtures do (lineitem = 6,000,000 x sf).

Usage: python3 perfbench/gen.py <out_dir> [sf] [seed]
"""
import os
import sys

import numpy as np
import pandas as pd

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(1, int(150000 * sf)), max(1, int(10000 * sf))
    n_part, n_ord = max(1, int(200000 * sf)), max(1, int(1500000 * sf))
    n_li, n_ev = max(1, int(6000000 * sf)), max(1, int(1000000 * sf))
    n_users = max(1, int(15000 * sf))
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part),
                                              rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].replace(" dup", "")
            texts.append(base + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def write(out_dir, sf=0.001, seed=42):
    """Write every table as <out_dir>/<name>.parquet; a finished fixture
    carries a _DONE marker so a crashed write is never reused."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf, seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.001,
          int(sys.argv[3]) if len(sys.argv) > 3 else 42)
