"""Deterministic star-schema tables for the benchmark.

The ten tables follow the contract in FIXTURES.md: names, column types and
value domains. Every value is a hash of (row id, column salt, data seed), so
a given size always yields the same content on any machine, and the golden
output checks stay valid. Each table is written as one parquet file
`<dir>/<name>.parquet`, the layout graft.Tables and the DuckDB oracle read.

Usage: python3 perfbench/fixtures.py <dir> [lineitem_rows]
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("a the row key agg scan slow fast table value part hash merge batch spark line "
         "sort window order data column join small big customer query stream group filter "
         "vector select index cache shard node file page block schema plan").split()
_M = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x):
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _hash(ids, salt):
    with np.errstate(over="ignore"):
        key = np.asarray(ids, dtype=np.uint64) * np.uint64(0x100000001B3) + np.uint64(salt * 7919 + DATA_SEED)
    return _mix(_mix(key))


def pick(ids, salt, n):
    """A value in [0, n) per id."""
    return (_hash(ids, salt) % np.uint64(n)).astype(np.int64)


def unit(ids, salt):
    """A value in [0, 1) per id, on a 1e-6 grid."""
    return pick(ids, salt, 1_000_000) / 1e6


def choose(ids, salt, values):
    return pa.array(np.asarray(values, dtype=object)[pick(ids, salt, len(values))], pa.string())


def money(ids, salt, lo, hi):
    return np.round(lo + unit(ids, salt) * (hi - lo), 2)


def days(ids, salt, start, n):
    d = np.datetime64(start, "D") + pick(ids, salt, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def sizes(lineitem):
    """Rows per table; the ratios are those of the sf tables (TESTDATA.md)."""
    return {"region": 5, "nation": 25, "customer": lineitem // 40,
            "supplier": max(10, lineitem // 600), "part": lineitem // 30,
            "orders": lineitem // 4, "lineitem": lineitem, "events": lineitem // 6,
            "documents": max(500, lineitem // 120), "embeddings": max(500, lineitem // 120)}


def tables(lineitem):
    n = sizes(lineitem)
    ids = {t: np.arange(k, dtype=np.int64) for t, k in n.items()}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    r = ids["region"]
    yield "region", pa.table({"r_regionkey": pa.array(r, i32),
                              "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    k = ids["nation"]
    yield "nation", pa.table({"n_nationkey": pa.array(k, i32),
                              "n_name": pa.array([f"NATION_{x}" for x in k], s),
                              "n_regionkey": pa.array(k % 5, i32)})
    c = ids["customer"]
    yield "customer", pa.table({
        "c_custkey": pa.array(c, i64), "c_name": pa.array([f"Customer#{x:09d}" for x in c], s),
        "c_nationkey": pa.array(pick(c, 1, 25), i32), "c_acctbal": pa.array(money(c, 2, -999.99, 9999.99), f64),
        "c_mktsegment": choose(c, 3, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])})
    su = ids["supplier"]
    yield "supplier", pa.table({
        "s_suppkey": pa.array(su, i64), "s_name": pa.array([f"Supplier#{x:09d}" for x in su], s),
        "s_nationkey": pa.array(pick(su, 4, 25), i32), "s_acctbal": pa.array(money(su, 5, -999.99, 9999.99), f64)})
    p = ids["part"]
    adjectives = np.array(["blue", "red", "hot", "cold", "small", "large", "old", "new"], dtype=object)
    nouns = np.array(["bolt", "gear", "ring", "widget", "rod", "anvil", "plate", "gizmo"], dtype=object)
    yield "part", pa.table({
        "p_partkey": pa.array(p, i64),
        "p_name": pa.array(adjectives[pick(p, 6, 8)] + " " + nouns[pick(p, 7, 8)], s),
        "p_brand": pa.array([f"Brand#{x + 1}" for x in pick(p, 8, 25)], s),
        "p_type": choose(p, 9, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
        "p_size": pa.array(pick(p, 10, 50) + 1, i32),
        "p_retailprice": pa.array(np.round(900.0 + (p % 1000) / 10.0, 2), f64)})
    o = ids["orders"]
    yield "orders", pa.table({
        "o_orderkey": pa.array(o, i64), "o_custkey": pa.array(pick(o, 11, n["customer"]), i64),
        "o_orderstatus": choose(o, 12, ["F", "O", "P"]),
        "o_totalprice": pa.array(money(o, 13, 1000.0, 500000.0), f64),
        "o_orderdate": days(o, 14, "1995-01-01", 2404),
        "o_orderpriority": choose(o, 15, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])})
    li = ids["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(pick(li, 16, n["orders"]), i64),
        "l_partkey": pa.array(pick(li, 17, n["part"]), i64),
        "l_suppkey": pa.array(pick(li, 18, n["supplier"]), i64),
        "l_linenumber": pa.array(pick(li, 19, 7) + 1, i32),
        "l_quantity": pa.array((pick(li, 20, 50) + 1).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(li, 21, 900.0, 105000.0), f64),
        "l_discount": pa.array(pick(li, 22, 11) / 100.0, f64),
        "l_tax": pa.array(pick(li, 23, 9) / 100.0, f64),
        "l_returnflag": choose(li, 24, ["A", "N", "R"]),
        "l_linestatus": choose(li, 25, ["F", "O"]),
        "l_shipdate": days(li, 26, "1995-01-02", 2498)})
    # events: one month of micro-timestamped activity, in event_id order
    e = ids["events"]
    step = 30 * 86400 * 1_000_000 // n["events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (e * step + pick(e, 27, step)).astype("timedelta64[us]")
    yield "events", pa.table({
        "event_id": pa.array(e, i64), "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(pick(e, 28, max(10, n["customer"] // 10)), i64),
        "event_type": choose(e, 29, ["click", "view", "purchase", "signup", "error"]),
        "value": pa.array(money(e, 30, 0.01, 490.02), f64),
        "props": pa.array([f'{{"k": {x}}}' for x in pick(e, 31, 100)], s)})
    # documents: word soup; every tenth document is a near-copy of the one
    # before it (its first word changed), so the dedup family finds pairs
    d = ids["documents"]
    family = np.where(d % 10 == 9, d - 1, d)
    n_words = pick(family, 32, 80) + 10
    vocab = np.array(WORDS, dtype=object)
    texts = []
    for doc, fam, nw in zip(d, family, n_words):
        words = list(vocab[pick(fam * 1000 + np.arange(nw), 33, len(WORDS))])
        if doc != fam:
            words[0] = "changed"
        texts.append(" ".join(words))
    yield "documents", pa.table({
        "doc_id": pa.array(d, i64), "text": pa.array(texts, s),
        "lang": choose(d, 34, ["en", "en", "en", "de", "es", "fr", "zh"]),
        "source": pa.array([f"src{x % 20}" for x in d], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: ten labelled clusters in 64 dimensions
    v = ids["embeddings"]
    label = pick(v, 35, 10)
    dims = np.arange(64)
    centre = (pick(label[:, None] * 64 + dims, 36, 2001) - 1000) / 6000.0
    noise = (pick(v[:, None] * 64 + dims, 37, 2001) - 1000) / 12000.0
    emb = (centre + noise).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(v, i64),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, emb.size + 1, 64), pa.int32()),
                                              pa.array(emb.ravel(), pa.float32())),
        "label": pa.array(label, i32)})


def write_tables(directory, lineitem):
    directory = Path(directory)
    directory.mkdir(parents=True, exist_ok=True)
    for name, table in tables(lineitem):
        pq.write_table(table, directory / f"{name}.parquet")


if __name__ == "__main__":
    write_tables(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 6000)
