#!/usr/bin/env python3
"""Seeded generator for the catalog workload's ten harness tables.

A port of tools/gen_sf1_full.py with three differences:
  * the seed is a parameter instead of the hard-coded 42;
  * `scale` is relative to sf0.1 and may be fractional (1.0 = sf0.1
    row counts, 0.01 = sf0.001 row counts);
  * region and nation are generated (5 regions, 25 `NATION_<i>`
    nations with region i % 5, the shape of the harness fixtures)
    instead of copied from an existing fixture directory.

Every other distribution is the port's: the same key ranges per unit
of scale, value domains, 1 + Poisson(3) lines per order, a 30-day
event span, Zipf(1.07) documents over a 50,000-type vocabulary with
5% appended-dup planting, and 64-dim unit embeddings around 10
cluster centres.

Usage: python3 perfbench/gen_tables.py <outDir> <seed> [scale]
"""
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int, scale: float = 1.0) -> dict:
    """Writes the ten tables into `out`; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)

    def n(base):
        return max(1, int(round(base * scale)))

    rows = {}

    def put(name, table):
        write(out, name, table)
        rows[name] = table.num_rows

    put("region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }))

    n_cust, n_supp, n_part = n(15000), n(1000), n(20000)
    n_ord, n_ev, n_doc, n_vec = n(150000), n(100000), n(5000), n(2000)

    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2)),
        "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, n_cust)]),
    }))

    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(0, 10000, n_supp), 2)),
    }))

    adjs = "large hot blue red small green dim quick".split()
    nouns = "ring bolt screw washer nut plate rod gear".split()
    types = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{adjs[i % 8]} {nouns[(i // 8) % 8]}"
                            for i in rng.integers(0, 64, n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([types[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    }))

    day = np.timedelta64(86400, "s")
    d0 = np.datetime64("1995-01-01")
    statuses = np.array(["O", "P", "F"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = d0 + rng.integers(0, 2405, n_ord) * day  # ..2001-08-01
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(statuses[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)]),
    }))

    nlines = 1 + rng.poisson(3.0, n_ord)
    okeys = np.repeat(np.arange(n_ord), nlines)
    n_li = okeys.shape[0]
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines])
    rflag = np.array(["A", "N", "R"])
    lstat = np.array(["O", "F"])
    shipdate = np.repeat(odate, nlines) + rng.integers(1, 120, n_li) * day
    put("lineitem", pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.10, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2)),
        "l_returnflag": pa.array(rflag[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(lstat[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(shipdate.astype("datetime64[us]")),
    }))

    etypes = np.array(["click", "view", "signup", "purchase", "error"])
    t0 = np.datetime64("2024-01-01T00:00:00.000000")
    ets = t0 + rng.integers(0, 30 * 86400 * 1000000, n_ev).astype("timedelta64[us]")
    ets = np.sort(ets)
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ets),
        "user_id": pa.array(rng.integers(0, n(1500), n_ev), pa.int64()),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.uniform(0, 560, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }))

    # Zipf(1.07) over 50k word types: a uniform vocabulary makes every
    # shingle collide, which is degenerate for fingerprint operators
    vocab_types = 50000
    vocab = [f"w{i}" for i in range(1, vocab_types + 1)]
    cum = np.cumsum(1.0 / np.arange(1, vocab_types + 1) ** 1.07).tolist()
    langs = ["en", "de", "es", "fr", "zh"]
    texts = []
    for i in range(n_doc):
        if i > 0 and prng.random() < 0.05:
            t = texts[prng.randrange(i)] + " dup"
            t = t.replace(" dup dup", " dup")
        else:
            t = " ".join(prng.choices(vocab, cum_weights=cum, k=prng.randint(8, 100)))
        texts.append(t)
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([prng.choice(langs) for _ in range(n_doc)]),
        "source": pa.array([f"src{prng.randrange(20)}" for _ in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    dim, n_lab = 64, 10
    centers = rng.normal(size=(n_lab, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_lab, n_vec)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
    return rows


if __name__ == "__main__":
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    print(generate(sys.argv[1], int(sys.argv[2]), scale))
