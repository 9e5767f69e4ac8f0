#!/usr/bin/env python3
"""Seeded fixture generator for the benchmark.

Writes the ten tables the engine reads (`region` ... `embeddings`) as
single-row-group snappy parquet files, with the schemas, value ranges
and row counts at sf0.1 of the engine's fixture family (FIXTURES.md
section 2). The same seed always gives byte-identical tables.

Usage: python3 perfbench/gen.py <out_dir> <seed>
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "blue cold hot small red new old large".split()
PART_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SF = 0.1  # the benchmark's one scale factor


def ts_us(start, n_days, rng, n, whole_days):
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, n_days + 1, n).astype("timedelta64[D]")
    else:
        off = rng.integers(0, n_days * 86_400_000_000, n).astype("timedelta64[us]")
    return base + off


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, f"{out}/{name}.parquet", compression="snappy",
                   row_group_size=max(1, table.num_rows))


def tables(seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_emb, n_users = int(50_000 * SF), int(20_000 * SF), int(15_000 * SF)
    i32, i64 = pa.int32(), pa.int64()
    ts = pa.timestamp("us")

    yield "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    yield "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}
    yield "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n_cust)}
    yield "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}
    pk = np.arange(n_part)
    yield "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, PART_ADJ, n_part),
                                              pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)}
    yield "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(ts_us("1995-01-01", 2403, rng, n_ord, True), ts),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_ord)}
    yield "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(ts_us("1995-01-02", 2498, rng, n_line, True), ts)}
    yield "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(ts_us("2024-01-01", 30, rng, n_ev, False)), ts),
        "user_id": pa.array(rng.integers(0, n_users // 10, n_ev), i64),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}

    # documents: random texts over a small vocabulary, 5 % near-duplicates
    # (an earlier text plus a trailing " dup") and a few exact copies, so
    # the dedup and similarity operators always find candidate pairs
    lens = rng.integers(10, 101, n_doc)
    words = pick(rng, WORDS, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_doc)]
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        text[i] = text[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n_doc), max(1, n_doc // 600), replace=False):
        text[i] = text[rng.integers(0, i)]
    yield "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": text,
        "lang": pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in text], i64)}

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)}


def main(out, seed):
    for name, cols in tables(seed):
        write(out, name, cols)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
