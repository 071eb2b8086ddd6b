#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Usage: python3 perfbench/gen.py --seed N --docs D --out DIR

Writes the ten tables the engine reads (the committed test-data schemas:
region, nation, customer, supplier, part, orders, lineitem, documents,
embeddings, events) as DIR/<table>.parquet, plus DIR/manifest.json with
the corpus counts.  The same seed and sizes give byte-identical tables.

documents: a Zipf vocabulary of 100,000 terms.  The 31 terms of the
committed corpus sit at geometrically spread ranks (1 to 11, then 13,
16, 20, ..., 794, 1000), so the query terms hard-coded in the search
operators hit head, middle and tail posting lists.  Doc lengths are
lognormal.  Some docs are near-duplicates of an earlier doc (the earlier
text plus the token "dup") and some are exact copies.

Where each parameter comes from (perfbench/README.md has the table):
  - doc length: lognormal with the committed sf0.1 corpus's median and
    quartiles (54, 32 and 76 tokens) and its minimum (10 tokens);
  - near-duplicate share (5%) and form, exact-copy share (0.16%): the
    committed sf0.1 corpus (250 and 8 of 5,000 docs);
  - Zipf exponent 1.0: Zipf's law for English text (G. K. Zipf, Human
    Behavior and the Principle of Least Effort, 1949).  Unverified for
    this corpus: the committed corpus draws its 31 terms uniformly, so
    there is nothing here to fit, and no Wikipedia dump was measured;
  - vocabulary size 10^5: the benchmark's specification; unverified.

The other tables have the committed sf0.001 sizes, key ranges and value
ranges, with uniform keys as there (part popularity and event users
show no skew in any committed scale).  Embeddings are random unit
vectors with random labels, as the committed ones are (each label's
mean has the norm a mean of 50 random unit vectors has, about 0.14).
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 100_000
ZIPF_S = 1.0
# median 54, quartiles 32 and 76: sigma = ln(76 / 32) / (2 * 0.6745)
LEN_MEDIAN, LEN_SIGMA, LEN_MIN = 54.0, 0.641, 10
NEAR_DUP_SHARE, EXACT_DUP_SHARE = 0.05, 0.0016

# The committed corpus vocabulary, which holds the search operators' query
# terms, in rank order: "join" at the head, "spark" and "stream" in the
# middle, "vector" and "dup" in the tail.
COMMITTED_TERMS = [
    "the", "a", "join", "data", "table", "query", "key", "value", "row",
    "column", "order", "group", "scan", "spark", "filter", "sort", "merge",
    "hash", "stream", "window", "batch", "line", "part", "customer", "agg",
    "big", "small", "fast", "slow", "vector", "dup"]
TAIL_RANK = 1000
# row groups per table file: the unit Spark splits a file scan by
ROW_GROUPS = 8
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13])
T_1995 = np.datetime64("1995-01-01", "us")
T_2024 = np.datetime64("2024-01-01", "us")
DAY = np.timedelta64(1, "D")
US = np.timedelta64(1, "us")


def committed_ranks():
    """31 distinct ranks spread geometrically over [1, TAIL_RANK]."""
    ranks, r = [], 0
    for i in range(len(COMMITTED_TERMS)):
        r = max(r + 1, round(TAIL_RANK ** (i / (len(COMMITTED_TERMS) - 1))))
        ranks.append(r)
    return ranks


def vocabulary():
    """Rank-ordered term strings.  Fixed (not seeded), so a term's rank is
    the same in every corpus; only the sampled text depends on the seed."""
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"), dtype=object)
    # shorter words at the head, as in natural text
    ranks = np.arange(1, VOCAB + 1)
    lens = np.minimum(3 + np.log2(ranks).astype(int) // 2
                      + rng.integers(0, 3, VOCAB), 12)
    grid = rng.choice(letters, (VOCAB, 12))
    slots = dict(zip(committed_ranks(), COMMITTED_TERMS))
    taken, out = set(COMMITTED_TERMS), []
    for rank, n, row in zip(ranks, lens, grid):
        w = slots.get(rank) or "".join(row[:n])
        while w in taken and rank not in slots:
            w = "".join(rng.choice(letters, n))
        taken.add(w)
        out.append(w)
    return np.array(out, dtype=object)


def documents(rng, n_docs):
    vocab = vocabulary()
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    lens = np.maximum(np.round(rng.lognormal(np.log(LEN_MEDIAN), LEN_SIGMA, n_docs)),
                      LEN_MIN).astype(np.int64)
    ids = rng.choice(VOCAB, size=int(lens.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [ids[bounds[i]:bounds[i + 1]] for i in range(n_docs)]
    dup = committed_ranks()[COMMITTED_TERMS.index("dup")] - 1  # term id = rank - 1
    kind = rng.random(n_docs)
    near = exact = 0
    for i in range(1, n_docs):
        if kind[i] < EXACT_DUP_SHARE:
            docs[i] = docs[int(rng.integers(0, i))].copy()
            exact += 1
        elif kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            docs[i] = np.append(docs[int(rng.integers(0, i))], dup)
            near += 1
    text = [" ".join(vocab[d]) for d in docs]
    langs = rng.choice(LANGS[0], size=n_docs, p=LANGS[1])
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    stats = {"docs": n_docs, "tokens": int(sum(len(d) for d in docs)),
             "text_bytes": int(sum(len(t) for t in text)),
             "distinct_terms": int(len(np.unique(np.concatenate(docs)))),
             "near_duplicates": near, "exact_duplicates": exact}
    return table, stats


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng, n_cust=150, n_supp=10, n_part=200, n_orders=1500):
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    span_o = (np.datetime64("2001-08-01", "us") - T_1995) // DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": T_1995 + rng.integers(0, span_o + 1, n_orders) * DAY,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, n_part, n_li)
    span_l = (np.datetime64("2001-11-04", "us") - T_1995) // DAY
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), lines), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]),
                                 pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) * 0.1)
                                    * rng.uniform(0.5, 2.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": T_1995 + rng.integers(1, span_l + 1, n_li) * DAY})
    return t


def events(rng, n=1000, n_users=15):
    ts = np.sort(rng.integers(0, 30 * DAY // US, n)) * US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(T_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def embeddings(rng, n=500, dim=64, labels=10):
    label = rng.integers(0, labels, n)
    v = rng.normal(0.0, 1.0, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def generate(seed, n_docs, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs, stats = documents(rng, n_docs)
    tables = star_tables(rng)
    tables["documents"] = docs
    tables["events"] = events(rng)
    tables["embeddings"] = embeddings(rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=-(-table.num_rows // ROW_GROUPS))
    stats["seed"] = seed
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(stats, f)
    return stats


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.docs, a.out)))


if __name__ == "__main__":
    main()
