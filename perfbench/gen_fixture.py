#!/usr/bin/env python3
"""Writes the registry_batch input tables: an sf0.1-shaped instance of the
star schema + events + documents + embeddings that SparkEntry.queries read
(one parquet file per table, same column names and types as the fixtures
described in FIXTURES.md, ten times the sf0.01 row counts).

The tables are fixed (data seed 42) and independent of the workload seed,
which only picks the registry sample.  Usage: gen_fixture.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_ROWS = dict(customer=15000, supplier=1000, part=20000, orders=150000,
               lineitem=600000, events=100000, documents=5000,
               embeddings=5000)
WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "spark a the line sort window data column join small customer "
         "query order group filter stream big vector").split()
DAY_US = 86400 * 1000000


def days_us(rng, n, start, span_days):
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, span_days, n) * DAY_US


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def main(out):
    rng = np.random.default_rng(42)
    os.makedirs(out, exist_ok=True)
    n = SF_ROWS

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
    write(out, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]),
                                pa.int32()),
        "c_acctbal": money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]),
                                pa.int32()),
        "s_acctbal": money(rng, n["supplier"], -999.99, 9999.99)})

    adj = np.array(["small", "red", "blue", "hot", "old", "new", "cold",
                    "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "anvil", "rod",
                     "plate", "pin"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                      "PROMO"])
    np_ = n["part"]
    write(out, "part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, np_)], " "),
                              noun[rng.integers(0, 8, np_)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, np_).astype(str)),
        "p_type": types[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)})

    no = n["orders"]
    write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": money(rng, no, 1000.0, 500000.0),
        "o_orderdate": ts(days_us(rng, no, "1995-01-01", 2404)),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"])[rng.integers(0, 5, no)]})

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": ts(days_us(rng, nl, "1995-01-02", 2498))})

    ne = n["events"]
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(base + rng.integers(0, 30 * DAY_US, ne))
    write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts(ev_ts),
        "user_id": rng.integers(0, 1500, ne, dtype=np.int64),
        "event_type": np.array(["click", "signup", "error", "view",
                                "purchase"])[rng.integers(0, 5, ne)],
        "value": money(rng, ne, 0.01, 500.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 101))
            texts.append(" ".join(WORDS[j]
                                  for j in rng.integers(0, len(WORDS), k)))
    write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr",
                          "zh"])[rng.integers(0, 7, nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.06, (nv, 64))).astype(
        np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_fixture.py <out_dir>")
    main(sys.argv[1])
