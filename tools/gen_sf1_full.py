#!/usr/bin/env python3
"""Generate a FULL sf1 table set (10x sf0.1) for the one-off
whole-board bench datapoint (VERDICT r11 #6).

Driver-side tooling only (like check.py) — the Scala
library never reads this script. Each table mimics the driver
generator's OBSERVABLE distributions at sf0.1 (inspected via DuckDB,
not copied): key ranges scale 10x, value domains / category mixes /
per-order line-count shape / event time span / embedding norm and
label mix stay the same, so per-query time ratios sf0.1 -> sf1 measure the
ENGINE's scaling, not a distribution shift. This is a BENCH fixture
(timings), not a correctness fixture — the oracle gate runs on the
driver's own parquet at sf0.001/0.01/0.1.

documents draws from the ~50,000-type Zipf(1.07) vocabulary (VERDICT
r12 #2): the r12 cut kept the
driver's 31-word uniform vocab for comparability, but that vocabulary
is DEGENERATE for fingerprint operators — every shingle collides, so
the sf1 growth numbers for q59/q78/q220 measured the fixture's
collision mass, not the engine. The Zipf head recreates the
stopword-class grams the df-caps must prune; the long tail gives
fingerprints realistic selectivity. Doc length U(8,100) words, 20
sources, 5 langs, 5% appended-dup planting are unchanged (the
driver generator's observable shape).

Usage: python3 tools/gen_sf1_full.py <outDir> [scale]
Default scale = 10 (relative to sf0.1).
"""
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def write(out, name, table):
    pq.write_table(table, f"{out}/{name}.parquet")
    print(f"{name}: {table.num_rows} rows")


def main() -> None:
    out = sys.argv[1]
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(42)
    prng = random.Random(42)

    # region / nation: fixed dimensions — copy verbatim
    for t in ("region", "nation"):
        pq.write_table(pq.read_table(f"{SRC}/{t}.parquet"), f"{out}/{t}.parquet")
        print(f"{t}: copied")

    n_cust = 15000 * scale
    n_supp = 1000 * scale
    n_part = 20000 * scale
    n_ord = 150000 * scale
    n_ev = 100000 * scale
    n_doc = 5000 * scale
    n_vec = 2000 * scale

    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2)),
        "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, n_cust)]),
    }))

    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(0, 10000, n_supp), 2)),
    }))

    adjs = "large hot blue red small green dim quick".split()
    nouns = "ring bolt screw washer nut plate rod gear".split()
    types = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
    write(out, "part", pa.table({
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
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(statuses[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)]),
    }))

    # lineitem: 1 + Poisson(3) lines per order (observed sf0.1 shape)
    nlines = 1 + rng.poisson(3.0, n_ord)
    okeys = np.repeat(np.arange(n_ord), nlines)
    n_li = okeys.shape[0]
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines])
    rflag = np.array(["A", "N", "R"])
    lstat = np.array(["O", "F"])
    shipdate = np.repeat(odate, nlines) + rng.integers(1, 120, n_li) * day
    write(out, "lineitem", pa.table({
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

    # events: same 30-day span, 10x users and rows (density grows like
    # a 10x-traffic month — the regime windows/sessions face at scale)
    etypes = np.array(["click", "view", "signup", "purchase", "error"])
    t0 = np.datetime64("2024-01-01T00:00:00.000000")
    ets = t0 + rng.integers(0, 30 * 86400 * 1000000, n_ev).astype("timedelta64[us]")
    ets = np.sort(ets)
    write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ets),
        "user_id": pa.array(rng.integers(0, 1500 * scale, n_ev), pa.int64()),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.uniform(0, 560, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }))

    # documents: Zipf(1.07) over 50k types,
    # U(8,100) words, 20 sources, 5 langs, 5% appended-dup
    vocab_types = 50000
    vocab = [f"w{i}" for i in range(1, vocab_types + 1)]
    cum = []
    acc = 0.0
    for r in range(1, vocab_types + 1):
        acc += 1.0 / (r ** 1.07)
        cum.append(acc)
    langs = ["en", "de", "es", "fr", "zh"]
    texts = []
    for i in range(n_doc):
        if i > 0 and prng.random() < 0.05:
            t = texts[prng.randrange(i)] + " dup"
            t = t.replace(" dup dup", " dup")
        else:
            t = " ".join(prng.choices(vocab, cum_weights=cum,
                                      k=prng.randint(8, 100)))
        texts.append(t)
    write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([prng.choice(langs) for _ in range(n_doc)]),
        "source": pa.array([f"src{prng.randrange(20)}" for _ in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: 10 unit cluster centers + noise, re-normalized —
    # unit-norm 64-dim vectors with a 10-way label structure
    dim, n_lab = 64, 10
    centers = rng.normal(size=(n_lab, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_lab, n_vec)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


if __name__ == "__main__":
    main()
