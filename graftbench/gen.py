#!/usr/bin/env python3
"""Seeded table generator for the graft benchmark.

Writes the ten tables the query catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
shapes of dev/gen_sf1.py, scaled by a row fraction:

- frac = 1.0 is sf1: 150k customers incl. a hot city of 3 x 2,000
  coincident points, 50k documents incl. a hot near-identical family of
  2,000, 20k embeddings incl. a hot cluster of 5,000, 1M events, 6M
  lineitems. With seed 20260814 the files are value-identical to
  dev/gen_sf1.py's (the same random draws in the same order).
- smaller fractions keep every shape, the hot structures included, at
  frac x the rows.

Usage: python3 gen.py <out_dir> <seed> <frac>
"""
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 20260814

VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data join plan shuffle page").split()
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_W = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def n_of(full, frac):
    return max(1, int(round(full * frac)))


def gen_documents(out, rnd, frac):
    n_total, hot_n = n_of(50_000, frac), n_of(2_000, frac)
    texts = []
    # hot family: one 60-word boilerplate with <=2 word substitutions
    base = [rnd.choice(VOCAB) for _ in range(60)]
    for _ in range(hot_n):
        t = list(base)
        for _ in range(rnd.randint(0, 2)):
            t[rnd.randrange(len(t))] = rnd.choice(VOCAB)
        texts.append(" ".join(t))
    while len(texts) < n_total:
        r = rnd.random()
        if texts and r < 0.02:            # exact duplicate of an earlier doc
            texts.append(texts[rnd.randrange(len(texts))])
        elif texts and r < 0.07:          # near-dup: copy + 1-3 word edits
            t = texts[rnd.randrange(len(texts))].split()
            for _ in range(rnd.randint(1, 3)):
                t[rnd.randrange(len(t))] = rnd.choice(VOCAB)
            texts.append(" ".join(t))
        else:                             # fresh word salad, 10-100 words
            n = rnd.randint(10, 100)
            texts.append(" ".join(rnd.choice(VOCAB) for _ in range(n)))
    rnd.shuffle(texts)
    rows = {
        "doc_id": list(range(n_total)),
        "text": texts,
        "lang": rnd.choices(LANGS, weights=LANG_W, k=n_total),
        "source": [f"src{rnd.randrange(20)}" for _ in range(n_total)],
        "n_chars": [len(t) for t in texts],
    }
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    pq.write_table(pa.table(rows, schema=schema), f"{out}/documents.parquet")


def gen_embeddings(out, nprng, frac):
    n_total, hot_n, dim = n_of(20_000, frac), n_of(5_000, frac), 64
    base = nprng.standard_normal(dim).astype(np.float32)
    hot = base[None, :] + 0.005 * nprng.standard_normal((hot_n, dim)).astype(np.float32)
    rest = nprng.standard_normal((n_total - hot_n, dim)).astype(np.float32)
    vecs = np.concatenate([hot, rest])
    nprng.shuffle(vecs)
    arr = pa.array([v.tolist() for v in vecs], type=pa.list_(pa.float32()))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_total), type=pa.int64()),
        "embedding": arr,
        "label": pa.array((nprng.integers(0, 10, n_total)).tolist(), type=pa.int32()),
    }), f"{out}/embeddings.parquet")


def gen_events(out, nprng, frac):
    n = n_of(1_000_000, frac)
    start_us = 1_704_067_200_000_000  # 2024-01-01 UTC in epoch micros
    ts = start_us + nprng.integers(0, 30 * 86_400_000_000, n)
    types = np.array(["click", "error", "purchase", "signup", "view"])
    tix = nprng.integers(0, 5, n)
    value = np.round(nprng.uniform(0.0, 500.0, n), 2)
    # 'error' values are heavy-tailed: dense low buckets plus a sparse tail
    heavy = np.round(np.minimum(nprng.lognormal(2.0, 1.5, n), 500.0), 2)
    value = np.where(tix == 1, heavy, value)
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(nprng.integers(0, n_of(15_000, frac), n), type=pa.int64()),
        "event_type": pa.array(types[tix].tolist(), type=pa.string()),
        "value": pa.array(value, type=pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in nprng.integers(0, 100, n)],
                          type=pa.string()),
    }), f"{out}/events.parquet")


def gen_spatial(out, nprng, frac):
    # customer geometry derives from the key (x = 17k % 1000, y = 31k % 1000),
    # so the hot city is planted through key residues: background keys cover
    # every site, and 3 x hot_per keys land on three sites only
    n_bg, hot_sites, hot_per = n_of(144_000, frac), (17, 353, 771), n_of(2_000, frac)
    cust = list(range(1, n_bg + 1))
    for r in hot_sites:
        # j offset past the background range so keys stay unique
        cust.extend(r + 1000 * j for j in range(200, 200 + hot_per))
    nprng.shuffle(cust)
    pq.write_table(pa.table({
        "c_custkey": pa.array(cust, type=pa.int64()),
        "c_name": pa.array([f"Customer#{k}" for k in cust], type=pa.string()),
        "c_nationkey": pa.array((nprng.integers(0, 25, len(cust))).tolist(),
                                type=pa.int32()),
        "c_acctbal": pa.array(np.round(nprng.uniform(-999.99, 9999.99,
                                                     len(cust)), 2)),
        "c_mktsegment": pa.array([f"SEG{k % 5}" for k in cust], type=pa.string()),
    }), f"{out}/customer.parquet")
    sup = list(range(1, n_of(10_000, frac) + 1))
    pq.write_table(pa.table({
        "s_suppkey": pa.array(sup, type=pa.int64()),
        "s_name": pa.array([f"Supplier#{k}" for k in sup], type=pa.string()),
        "s_nationkey": pa.array((nprng.integers(0, 25, len(sup))).tolist(),
                                type=pa.int32()),
        "s_acctbal": pa.array(np.round(nprng.uniform(-999.99, 9999.99,
                                                     len(sup)), 2)),
    }), f"{out}/supplier.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(list(range(25)), type=pa.int32()),
        "n_name": pa.array([f"NATION{k}" for k in range(25)], type=pa.string()),
        "n_regionkey": pa.array([k % 5 for k in range(25)], type=pa.int32()),
    }), f"{out}/nation.parquet")


def gen_tpch_rest(out, nprng, frac):
    pq.write_table(pa.table({
        "r_regionkey": pa.array(list(range(5)), type=pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], type=pa.string()),
    }), f"{out}/region.parquet")

    n_part = n_of(200_000, frac)
    adjs = ["large", "hot", "blue", "old", "new", "red", "small", "dim"]
    nouns = ["ring", "bolt", "plate", "rod", "gear", "cap", "pin", "nut"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    keys = np.arange(n_part, dtype=np.int64)
    pq.write_table(pa.table({
        "p_partkey": pa.array(keys, type=pa.int64()),
        "p_name": pa.array([f"{adjs[nprng.integers(0, 8)]} "
                            f"{nouns[nprng.integers(0, 8)]}"
                            for _ in range(n_part)], type=pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             nprng.integers(0, 25, n_part)], type=pa.string()),
        "p_type": pa.array(types[nprng.integers(0, 6, n_part)].tolist(),
                           type=pa.string()),
        "p_size": pa.array(nprng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
    }), f"{out}/part.parquet")

    n_ord = n_of(1_500_000, frac)
    okeys = np.arange(n_ord, dtype=np.int64)
    day_us = 86_400_000_000
    d0 = 788_918_400_000_000       # 1995-01-01 UTC epoch micros
    n_days = 2_404                 # ..2001-08-01 inclusive
    statuses = np.array(["O", "P", "F"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    pq.write_table(pa.table({
        "o_orderkey": pa.array(okeys, type=pa.int64()),
        # sf1 draws custkeys from 150k, the customer count; scaled alike
        "o_custkey": pa.array(nprng.integers(0, n_of(150_000, frac), n_ord),
                              type=pa.int64()),
        "o_orderstatus": pa.array(statuses[nprng.integers(0, 3, n_ord)]
                                  .tolist(), type=pa.string()),
        "o_totalprice": pa.array(np.round(
            nprng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": pa.array(
            d0 + nprng.integers(0, n_days, n_ord) * day_us,
            type=pa.timestamp("us")),
        "o_orderpriority": pa.array(prios[nprng.integers(0, 5, n_ord)]
                                    .tolist(), type=pa.string()),
    }), f"{out}/orders.parquet")

    # lineitem: 1-7 lines per order, built columnar
    per = nprng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(okeys, per)
    n_li = len(l_orderkey)
    linenumber = (np.arange(n_li) -
                  np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    s0 = 789_004_800_000_000       # 1995-01-02
    ship_days = 2_499              # ..2001-11-04
    pq.write_table(pa.table({
        "l_orderkey": pa.array(l_orderkey, type=pa.int64()),
        "l_partkey": pa.array(nprng.integers(0, n_part, n_li),
                              type=pa.int64()),
        "l_suppkey": pa.array(nprng.integers(0, n_of(10_000, frac), n_li),
                              type=pa.int64()),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(nprng.integers(1, 51, n_li)
                               .astype(np.float64)),
        "l_extendedprice": pa.array(np.round(
            nprng.uniform(900.0, 105_000.0, n_li), 2)),
        "l_discount": pa.array(nprng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(nprng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[nprng.integers(0, 3, n_li)].tolist(),
            type=pa.string()),
        "l_linestatus": pa.array(
            np.array(["F", "O"])[nprng.integers(0, 2, n_li)].tolist(),
            type=pa.string()),
        "l_shipdate": pa.array(
            s0 + nprng.integers(0, ship_days, n_li) * day_us,
            type=pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")


def generate(out, seed, frac):
    """Write all ten tables for (seed, frac) into out. Every table draws
    from its own stream, seeded as dev/gen_sf1.py seeds it."""
    os.makedirs(out, exist_ok=True)
    gen_documents(out, random.Random(seed), frac)
    gen_embeddings(out, np.random.default_rng(seed), frac)
    gen_events(out, np.random.default_rng(seed + 1), frac)
    gen_spatial(out, np.random.default_rng(seed + 2), frac)
    gen_tpch_rest(out, np.random.default_rng(seed + 3), frac)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
