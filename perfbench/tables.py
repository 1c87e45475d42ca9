"""Seeded generator of the contract's input tables.

Writes the ten parquet tables the contract queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value shapes of the project's test
data, at a fixed scale factor. The same seed gives the same tables.

Usage: python3 perfbench/tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# lineitem rows = 6,000,000 x SF
SF = 0.01

WORDS = ("batch part spark line column order small sort fast value scan a hash slow group agg "
         "filter query big key window row table stream merge data vector join shard index "
         "token cache").split()
ADJ = "large hot blue small cold red green dark".split()
NOUN = "ring bolt gear pipe valve screw plate wheel".split()


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def tables(seed):
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_o, n_l, n_e = int(1500000 * SF), int(6000000 * SF), int(1000000 * SF)
    n_d, n_v, n_u = int(50000 * SF), int(20000 * SF), int(15000 * SF)
    day_us = 86400 * 10**6
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                    "FURNITURE"], n_c)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2)})
    pk = np.arange(n_p, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_p),
        "p_size": rng.integers(1, 51, n_p, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o, dtype=np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_o) * day_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_o)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l, dtype=np.int64),
        "l_partkey": rng.integers(0, n_p, n_l, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_l, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_l) * day_us)})
    out["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n_e))),
        "user_id": rng.integers(0, n_u, n_e, dtype=np.int64),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_e),
        "value": np.round(rng.exponential(60.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    texts = []
    for i in range(n_d):
        if i > 10 and rng.random() < 0.01:  # planted exact duplicates
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_d),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_v, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.3, (n_v, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels})
    return out


def main():
    out_dir, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
