#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables the library's queries read (`<name>.parquet`, one
file each, the same schemas and value ranges as the library's test data)
and, on request, policy CSV files in the reference schema
(`policies/policy_<i>.csv`). The same seed and sizes always give
byte-identical files.

Usage: python3 perfbench/gen.py <out_dir> <seed> <sf> [<files> <policies>]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "gear", "bolt", "pipe", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]


def _ts(rng, n, start, end):
    """n timestamps at whole days between two dates, as numpy datetime64[us]."""
    days = (end - start).days
    d = rng.integers(0, days + 1, n)
    return np.datetime64(start, "us") + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", write_statistics=True)


def tables(out, seed, sf):
    rng = np.random.Generator(np.random.PCG64(seed))
    k = sf / 0.01
    n_cust, n_supp, n_part = int(1500 * k), max(int(100 * k), 10), int(2000 * k)
    n_ord, n_line, n_ev = int(15000 * k), int(60000 * k), int(10000 * k)
    n_users, n_docs, n_vec = max(int(150 * k), 10), int(500 * k), int(500 * k ** 0.6)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", {"r_regionkey": pa.array(range(5), i32),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), i32),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(rng.choice(names, n_part), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0), f64),
        "o_orderdate": pa.array(_ts(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line), s),
        "l_shipdate": pa.array(_ts(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                               pa.timestamp("us"))})
    span_us = 30 * 86400 * 10 ** 6
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)], s)})
    # documents: random text over a small vocabulary; every 20th is a copy
    # of the one before with " dup" appended (the near-duplicates dedup
    # finds). Fixed positions keep every cluster a pair, so the cluster
    # build does the same number of rounds whatever the seed.
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:
            texts.append(texts[i - 1] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, n_vec), i32)})


def policies(out, seed, files, per_file):
    """Policy CSVs in the reference's 9-column schema; terms 1-10 years."""
    rng = np.random.Generator(np.random.PCG64(seed + 1))
    d = os.path.join(out, "policies")
    os.makedirs(d, exist_ok=True)
    for f in range(1, files + 1):
        lines = ["id,age,gender,smoking_status,occupation,policy_type,effective_date,term,premium"]
        for i in range(per_file):
            day = dt.date(2015, 1, 1) + dt.timedelta(days=int(rng.integers(0, 3650)))
            lines.append(",".join([
                f"P-{f:02d}-{i:06d}", f"{float(rng.integers(18, 80))}",
                "F" if rng.random() < 0.5 else "M",
                "smoker" if rng.random() < 0.2 else "non-smoker",
                str(rng.choice(["engineer", "teacher", "nurse", "driver"])),
                str(rng.choice(["term-life", "whole-life"])), day.isoformat(),
                f"{float(rng.integers(365, 3651))}", f"{round(float(rng.uniform(50, 500)), 2)}"]))
        with open(os.path.join(d, f"policy_{f}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def generate(out, seed, sf, files=0, per_file=0):
    os.makedirs(out, exist_ok=True)
    tables(out, seed, sf)
    if files:
        policies(out, seed, files, per_file)


if __name__ == "__main__":
    a = sys.argv[1:]
    generate(a[0], int(a[1]), float(a[2]), *(int(x) for x in a[3:5]))
