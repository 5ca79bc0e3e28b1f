"""Deterministic synthetic tables for the query and stream workloads.

The schema is the star schema the registered queries read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file per table, with value ranges and
distributions like the repository's test data. The tables do not depend
on the benchmark seed: the seed only orders the queries and assigns
documents to stream batches, so a query's pinned output holds for every
seed.

    python3 perfbench/gen_data.py OUT_DIR [--sf 0.01]
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join filter big group "
         "hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def days(rng, lo, hi, n):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo_d + rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.default_rng(GENERATOR_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users, n_docs, n_emb = max(10, int(15000 * sf)), max(500, int(50000 * sf)), max(500, int(20000 * sf))
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}
    t["supplier"] = {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}
    t["part"] = {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
                 "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)}
    t["orders"] = {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                   "o_orderstatus": [["O", "F", "P"][i] for i in rng.integers(0, 3, n_ord)],
                   "o_totalprice": money(rng, 1000, 500000, n_ord),
                   "o_orderdate": days(rng, "1995-01-01", "2001-08-01", n_ord),
                   "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}
    t["lineitem"] = {"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                     "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                     "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": money(rng, 900, 105000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0,
                     "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
                     "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
                     "l_shipdate": days(rng, "1995-01-02", "2001-11-04", n_line)}
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": pa.array(ts, pa.timestamp("us")),
                   "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                   "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
                   "value": np.round(rng.exponential(50.0, n_ev), 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    # documents: bags of words; 5 % are an earlier document plus " dup"
    # (near duplicates), a few are exact copies
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))))
    t["documents"] = {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
                      "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
                      "source": [f"src{i % 20}" for i in range(n_docs)],
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {"vec_id": np.arange(n_emb, dtype=np.int64),
                       "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                       "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}
    return t


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, cols in tables(a.sf).items():
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump({"sf": a.sf, "seed": GENERATOR_SEED}, f)
    os.replace(tmp, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
