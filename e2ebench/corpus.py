"""Seeded synthetic corpus for the batch workloads.

Writes the engine's ten tables (``graft.core.Tables.names``) as one parquet
file each, with the column names and physical types the engine reads:
a TPC-H-like star schema, an ``events`` table with JSON ``props``,
``documents`` over a small vocabulary with planted near-duplicates (so the
connected-components queries find clusters) and 64-dimensional
``embeddings`` drawn around ten label centroids.

The same (scale, seed) always gives byte-identical tables, so the result
digests committed beside this file stay valid.

    python3 e2ebench/corpus.py <out_dir> [--scale 0.01] [--seed 42]
"""

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key "
         "query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
ADJ = ["large", "hot", "red", "new", "old", "blue", "cold", "shiny"]
NOUN = ["ring", "bolt", "anvil", "rod", "plate", "nut", "gear", "pipe"]
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def sizes(scale):
    n = lambda base, floor: max(floor, int(round(base * scale)))
    return dict(customer=n(150_000, 50), supplier=n(10_000, 10), part=n(200_000, 64),
                orders=n(1_500_000, 200), events=n(1_000_000, 500),
                documents=n(50_000, 60), embeddings=n(20_000, 40))


def cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, columns):
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def documents(rng, n):
    texts, i = [], 0
    while len(texts) < n:
        r = rng.random()
        if texts and r < 0.05:  # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        elif texts and r < 0.06:  # exact duplicate
            texts.append(texts[int(rng.integers(0, len(texts)))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
        i += 1
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{s}" for s in rng.permutation(ids % 20)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng(a.seed)
    s = sizes(a.scale)
    i32, i64 = pa.int32(), pa.int64()

    write(a.out, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    write(a.out, "nation", {"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    nc = s["customer"]
    write(a.out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})

    ns = s["supplier"]
    write(a.out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": cents(rng, -999.99, 9999.99, ns)})

    npart = s["part"]
    pk = np.arange(npart, dtype=np.int64)
    price = 900.0 + (pk % 1000) / 10.0
    write(a.out, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a_]} {NOUN[b_]}" for a_, b_ in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": price})

    no = s["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US  # up to 2001-08-01
    write(a.out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), no),
        "o_totalprice": cents(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, no)})

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    lpart = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    write(a.out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": lpart,
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nl),
        "l_linestatus": rng.choice(np.array(["F", "O"]), nl),
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 122, nl) * DAY_US,
                               pa.timestamp("us"))})

    ne = s["events"]
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, ne))
    write(a.out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, ne // 66), ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": cents(rng, 0.0, 560.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    write(a.out, "documents", documents(rng, s["documents"]))

    nv = s["embeddings"]
    centroids = rng.normal(0.0, 0.1, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = (centroids[labels] + rng.normal(0.0, 0.08, (nv, 64))).astype(np.float32)
    write(a.out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    main()
