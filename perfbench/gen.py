"""Seeded input generator for the benchmark.

Writes the ten tables the registry reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the schema, physical types and value domains of the project's sf
fixtures, drawn from a numpy PCG64 stream seeded by the workload seed:

- every key lives in its own domain (`c_custkey` in [0, customers), user
  ids in [0, users), items in [0, 100) ...), so `user_id < 30` style
  filters and `int` casts keep the fixtures' selectivity at any seed;
- foreign keys are drawn uniformly from the parent's domain, as in the
  fixtures (about four lines per order, 67 events per user);
- every table's row order is a seeded permutation, so a plan that leans on
  storage order shows up as a correctness failure, not as a lucky pass;
- `sf` scales row counts the way the fixture generator does (more users,
  not heavier users).

Usage: python3 perfbench/gen.py <out_dir> <seed> [sf]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
ADJS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# sf0.1 row counts; every other sf scales linearly
BASE = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "users": 1500,
        "documents": 5000, "embeddings": 2000}
EVENTS_PER_USER = 200 / 3
ITEMS = 100
EMB_DIM = 64


def _days(rng, n, lo, hi):
    """n midnight timestamps uniform over [lo, hi] (dates)."""
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _write(out, name, cols, rng):
    """Write one table in a seeded row order (dims keep key order)."""
    table = pa.table(cols)
    if name not in ("region", "nation"):
        table = table.take(rng.permutation(table.num_rows))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def generate(out, seed, sf=0.1):
    """Write the ten tables under `out`; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n = {k: max(1, int(round(v * sf / 0.1))) for k, v in BASE.items()}
    n["events"] = int(round(n["users"] * EVENTS_PER_USER))
    rows = {}

    rows["region"] = _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}, rng)
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}, rng)

    c = n["customer"]
    rows["customer"] = _write(out, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, c)}, rng)

    s = n["supplier"]
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)}, rng)

    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    rows["part"] = _write(out, "part", {
        "p_partkey": keys,
        "p_name": (_pick(rng, ADJS, p) + " " + _pick(rng, NOUNS, p)),
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, p)],
        "p_type": _pick(rng, PTYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)}, rng)

    o = n["orders"]
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, o)}, rng)

    li = n["lineitem"]
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["O", "F"], li),
        "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}, rng)

    e = n["events"]
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, e)) + np.datetime64("2024-01-01", "us")
    rows["events"] = _write(out, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n["users"], e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, ITEMS, e)]}, rng)

    d = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, d)
    words = vocab[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # ~5% near-duplicates: an earlier document's text plus one marker token
    for i in np.flatnonzero(rng.random(d) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    rows["documents"] = _write(out, "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, d, LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}, rng)

    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(out, "embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32)}, rng)
    return rows


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    sf = float(sys.argv[3]) if len(sys.argv) > 3 else 0.1
    print(generate(out, seed, sf))
