#!/usr/bin/env python3
"""Seeded batch fixture for the batch_session workload: the ten parquet
tables `graft.Tables` reads (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings), with the schemas and
value domains of the repo's scale-factor fixtures (FIXTURES.md § B).

The same seed and scale factor give the same rows.

Usage: python3 perfbench/gen_tables.py --seed N --sf 0.01 --out DIR
"""
import argparse
import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


def generate(seed, sf, out):
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    n_cust = max(10, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(10, int(200000 * sf))
    n_ord = max(10, int(1500000 * sf))
    n_line = 4 * n_ord
    n_evt = max(10, int(1000000 * sf))
    n_doc = max(10, int(50000 * sf))
    n_vec = max(10, int(20000 * sf))

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [money(rng, -999.99, 9999.99) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [money(rng, -999.99, 9999.99) for _ in range(n_supp)]})
    write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(PTYPES) for _ in range(n_part)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n_part)]})

    day0 = dt.datetime(1995, 1, 1)
    write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [money(rng, 1000, 500000) for _ in range(n_ord)],
        "o_orderdate": pa.array([day0 + dt.timedelta(days=rng.randrange(2405))
                                 for _ in range(n_ord)], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)]})
    ship0 = dt.datetime(1995, 1, 2)
    write(out, "lineitem", {
        "l_orderkey": pa.array([rng.randrange(n_ord) for _ in range(n_line)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(n_part) for _ in range(n_line)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(n_supp) for _ in range(n_line)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n_line)], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_line)],
        "l_extendedprice": [money(rng, 900, 105000) for _ in range(n_line)],
        "l_discount": [money(rng, 0, 0.1) for _ in range(n_line)],
        "l_tax": [money(rng, 0, 0.08) for _ in range(n_line)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n_line)],
        "l_linestatus": [rng.choice("FO") for _ in range(n_line)],
        "l_shipdate": pa.array([ship0 + dt.timedelta(days=rng.randrange(2499))
                                for _ in range(n_line)], pa.timestamp("us"))})

    evt0 = dt.datetime(2024, 1, 1)
    offsets = sorted(rng.randrange(30 * 86400 * 10**6) for _ in range(n_evt))
    write(out, "events", {
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": pa.array([evt0 + dt.timedelta(microseconds=o) for o in offsets], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(1500) for _ in range(n_evt)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_evt)],
        "value": [round(rng.expovariate(1 / 50), 2) for _ in range(n_evt)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_evt)]})

    # 5% near-duplicates (an earlier text plus one token) and a few exact
    # copies, so the curation queries find pairs and clusters to work on
    texts = []
    for i in range(n_doc):
        u = rng.random()
        if i > 0 and u < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        elif i > 0 and u < 0.0516:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100))))
    write(out, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centers = [[rng.gauss(0, 1) for _ in range(EMBED_DIM)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n_vec):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 1.5) for c in centers[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(lab)
    write(out, "embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"sf": sf, "rows": n_cust + n_supp + n_part + n_ord + n_line + n_evt
            + n_doc + n_vec + 30}


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.seed, a.sf, a.out))
