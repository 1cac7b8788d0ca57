"""Seeded input tables for the query_mix workload.

Writes the ten tables the engine's queries read (a TPC-H-like star schema,
an events stream, a text corpus and an embedding table), one single-row-group
parquet file each, with the column names and physical types the queries and
their DuckDB oracles expect. The same seed and scale give the same rows.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "the join customer vector").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _documents(rng, n):
    """Random-word documents with planted exact and near duplicates."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.08:
            src = texts[rng.integers(0, i)].split(" ")
            for _ in range(max(1, len(src) // 20)):
                src[rng.integers(0, len(src))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build(seed, scale):
    """The ten tables as pyarrow tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * scale), int(1_500_000 * scale)
    n_cust, n_supp = int(150_000 * scale), max(100, int(10_000 * scale))
    n_part, n_ev = int(200_000 * scale), int(1_000_000 * scale)
    n_docs, n_vec = int(50_000 * scale), max(500, int(40_000 * scale))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(segs, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["large", "hot", "small", "cold", "shiny", "dull", "red", "blue"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                                       rng.choice(noun, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(types, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    day_us = 86_400_000_000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n_ord)),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": pa.array(rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord))})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90000, 210000, n_li) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li)),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n_li)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day_us)})
    offs = np.sort(rng.integers(0, 30 * day_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", offs),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(np.array(
            ["view", "click", "signup", "purchase", "error"]), n_ev)),
        "value": _money(rng, 0, 560, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    t["documents"] = _documents(rng, n_docs)
    centers = rng.normal(0, 0.12, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    emb = (centers[labels] + rng.normal(0, 0.08, (n_vec, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(out_dir, seed, scale):
    """Write every table to `out_dir`; returns the number of bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in build(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        total += os.path.getsize(path)
    return total


if __name__ == "__main__":
    print(write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
