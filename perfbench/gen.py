"""Seeded fixture generator for the benchmark.

Writes the engine's fixture schema (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings; one parquet file
each) at a scale factor, with the value distributions of the reference
fixtures: uniform keys and foreign keys, a 30-word document vocabulary
with 5% near-duplicate documents, and unit-norm 64-d float32 embeddings.
The same (seed, sf) always gives byte-identical tables.

    python3 perfbench/gen.py <outDir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "es", "fr", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "green", "small",
            "new", "dark", "bright", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "screw", "gear", "nut", "pipe", "valve",
             "spring", "chain"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def rows(sf):
    """Row count per table at scale factor `sf` (sf0.1 = reference bench)."""
    return {"customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "documents": int(50_000 * sf), "embeddings": int(20_000 * sf)}


def documents(rng, n):
    """(doc_id, text, lang, source, n_chars): 5% of documents repeat an
    earlier document's text plus a trailing token (near duplicates; two
    repeats of one origin are exact duplicates of each other)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(VOCAB[w] for w in ws) for ws in np.split(words, cuts)]
    dup = rng.random(n) < 0.05
    dup[0] = False
    origin = (rng.random(n) * np.arange(n)).astype(np.int64)
    for i in np.flatnonzero(dup):
        o = origin[i]
        while dup[o]:
            o = origin[o]
        texts[i] = texts[o] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {"doc_id": ids, "text": texts,
            "lang": LANGS[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def embeddings(rng, n):
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32)}


def generate(out, sf, seed, relational_sf=None):
    """All ten tables at `sf`; with `relational_sf`, every table but the
    corpus (documents, embeddings) at that scale instead."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = rows(sf)
    if relational_sf is not None:
        n.update({k: v for k, v in rows(relational_sf).items()
                  if k not in ("documents", "embeddings")})
    i32 = lambda a: np.asarray(a, dtype=np.int32)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    _write(out, "region", {"r_regionkey": i32(range(5)), "r_name": [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": i32([i % 5 for i in range(25)])})
    k = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": i32(rng.integers(0, 25, k)),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": np.array(["BUILDING", "MACHINERY", "AUTOMOBILE",
                                  "FURNITURE", "HOUSEHOLD"])[rng.integers(0, 5, k)]})
    k = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": i32(rng.integers(0, 25, k)),
        "s_acctbal": money(-999.99, 9999.99, k)})
    k = n["part"]
    adj, noun = np.array(PART_ADJ), np.array(PART_NOUN)
    _write(out, "part", {
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, len(adj), k)], " "),
                              noun[rng.integers(0, len(noun), k)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, k).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, k)],
        "p_size": i32(rng.integers(1, 51, k)),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1)})
    k = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, k)],
        "o_totalprice": money(1000.0, 500000.0, k),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, k) * 86400.0),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, k)]})
    k = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": i32(rng.integers(1, 8, k)),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, k)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, k) * 86400.0)})
    k = n["events"]
    _write(out, "events", {
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400.0, k)).round(6)),
        "user_id": rng.integers(0, max(1, n["events"] // 66), k).astype(np.int64),
        "event_type": np.array(["signup", "click", "error", "view",
                                "purchase"])[rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    _write(out, "documents", documents(rng, n["documents"]))
    _write(out, "embeddings", embeddings(rng, n["embeddings"]))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
