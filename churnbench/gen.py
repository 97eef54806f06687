"""Seeded input generator for the churn benchmark.

Writes the engine's ten-table star schema (one parquet file per table,
the layout `graft.Tables.load` reads) with the column types and value
domains of the engine's reference testdata. Every value is drawn from a
numpy PCG64 stream derived from (seed, table), so one seed always gives
byte-identical files and two seeds give different ones.

Table sizes follow the reference testdata at scale factor `sf`
(sf 0.01: 1,500 customers, 15,000 orders, 60,000 lineitems, 10,000
events, 500 documents, 500 embeddings).

Usage: python3 gen.py <outDir> <seed> <sf>
"""
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DIM = 64
# Keys, dates and amounts follow the reference testdata's domains.
ORDER_DAY0, ORDER_DAYS = np.datetime64("1995-01-01"), 2404
SHIP_DAY0, SHIP_DAYS = np.datetime64("1995-01-02"), 2498
EVENT_T0_US = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
EVENT_SPAN_US = 30 * 86400 * 10**6


def rng(seed, *tag):
    """An independent stream per (seed, table) tag."""
    words = [seed & 0xFFFFFFFF] + [zlib.crc32(str(t).encode()) for t in tag]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(words)))


def cents(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def tables(seed, sf):
    n_c = max(150, round(150_000 * sf))
    n_s = max(10, round(10_000 * sf))
    n_p = max(200, round(200_000 * sf))
    n_o = max(1500, round(1_500_000 * sf))
    n_l = max(6000, round(6_000_000 * sf))
    n_e = max(1000, round(1_000_000 * sf))
    n_u = max(15, round(15_000 * sf))
    n_d = max(500, round(50_000 * sf))
    n_v = max(500, round(20_000 * sf))
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    r = rng(seed, "customer")
    ck = np.arange(n_c, dtype=np.int64)
    t["customer"] = {"c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
                     "c_nationkey": r.integers(0, 25, n_c).astype(np.int32),
                     "c_acctbal": cents(r, -999.99, 9999.99, n_c),
                     "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_c)]}
    r = rng(seed, "supplier")
    sk = np.arange(n_s, dtype=np.int64)
    t["supplier"] = {"s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
                     "s_nationkey": r.integers(0, 25, n_s).astype(np.int32),
                     "s_acctbal": cents(r, -999.99, 9999.99, n_s)}
    r = rng(seed, "part")
    pk = np.arange(n_p, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    t["part"] = {"p_partkey": pk, "p_name": names[r.integers(0, 64, n_p)],
                 "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_p)],
                 "p_type": np.array(PTYPES)[r.integers(0, 6, n_p)],
                 "p_size": r.integers(1, 51, n_p).astype(np.int32),
                 "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}
    r = rng(seed, "orders")
    ok = np.arange(n_o, dtype=np.int64)
    t["orders"] = {"o_orderkey": ok, "o_custkey": r.integers(0, n_c, n_o).astype(np.int64),
                   "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_o)],
                   "o_totalprice": cents(r, 1000.0, 500_000.0, n_o),
                   "o_orderdate": (ORDER_DAY0 + r.integers(0, ORDER_DAYS + 1, n_o)).astype("datetime64[us]"),
                   "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_o)]}
    r = rng(seed, "lineitem")
    t["lineitem"] = {"l_orderkey": r.integers(0, n_o, n_l).astype(np.int64),
                     "l_partkey": r.integers(0, n_p, n_l).astype(np.int64),
                     "l_suppkey": r.integers(0, n_s, n_l).astype(np.int64),
                     "l_linenumber": r.integers(1, 8, n_l).astype(np.int32),
                     "l_quantity": r.integers(1, 51, n_l).astype(np.float64),
                     "l_extendedprice": cents(r, 900.0, 105_000.0, n_l),
                     "l_discount": np.round(r.integers(0, 11, n_l) / 100.0, 2),
                     "l_tax": np.round(r.integers(0, 9, n_l) / 100.0, 2),
                     "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_l)],
                     "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_l)],
                     "l_shipdate": (SHIP_DAY0 + r.integers(0, SHIP_DAYS + 1, n_l)).astype("datetime64[us]")}
    r = rng(seed, "events")
    slot = EVENT_SPAN_US // n_e
    ts = EVENT_T0_US + np.arange(n_e, dtype=np.int64) * slot + r.integers(0, slot, n_e)
    t["events"] = {"event_id": np.arange(n_e, dtype=np.int64),
                   "ts": ts.astype("datetime64[us]"),
                   "user_id": r.integers(0, n_u, n_e).astype(np.int64),
                   "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_e)],
                   "value": np.round(r.exponential(50.0, n_e), 2),
                   "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_e)]}
    r = rng(seed, "documents")
    lens = r.integers(10, 101, n_d)
    texts = [" ".join(np.array(WORDS)[r.integers(0, len(WORDS), n)]) for n in lens]
    # 5% near-duplicates: another document's text plus a "dup" marker
    for i in np.flatnonzero(r.random(n_d) < 0.05):
        texts[i] = texts[r.integers(0, n_d)] + " dup"
    dk = np.arange(n_d, dtype=np.int64)
    t["documents"] = {"doc_id": dk, "text": texts,
                      "lang": np.array(LANGS)[r.choice(5, n_d, p=LANG_P)],
                      "source": [f"src{k % 20}" for k in dk],
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    r = rng(seed, "embeddings")
    centers = r.standard_normal((10, DIM))
    # weak clusters: each label mean sits ~0.07 from the origin on the unit sphere
    centers *= 0.56 / np.linalg.norm(centers, axis=1, keepdims=True)
    labels = r.integers(0, 10, n_v)
    v = centers[labels] + r.standard_normal((n_v, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = {"vec_id": np.arange(n_v, dtype=np.int64),
                       "embedding": v.astype(np.float32), "label": labels.astype(np.int32)}
    return t


def to_arrow(cols):
    arrays, names = [], []
    for k, v in cols.items():
        if k == "embedding":
            flat = pa.array(np.ascontiguousarray(v).reshape(-1), pa.float32())
            offsets = pa.array(np.arange(0, v.size + 1, DIM, dtype=np.int32))
            arrays.append(pa.ListArray.from_arrays(offsets, flat))
        elif isinstance(v, np.ndarray) and v.dtype.kind == "M":
            arrays.append(pa.array(v, pa.timestamp("us")))
        elif isinstance(v, np.ndarray) and v.dtype.kind in "iuf":
            arrays.append(pa.array(v))
        else:
            arrays.append(pa.array([str(x) for x in v], pa.string()))
        names.append(k)
    return pa.table(arrays, names=names)


def generate(out_dir, seed, sf):
    """Write every table under out_dir; returns {table: rows}."""
    t = tables(seed, sf)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        tab = to_arrow(t[name])
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 22)
        rows[name] = tab.num_rows
    return rows


if __name__ == "__main__":
    a = sys.argv[1:]
    print(generate(a[0], int(a[1]), float(a[2])))
