"""Seeded input generator for the benchmark.

Writes the ten fixture tables (`region nation customer supplier part orders
lineitem events documents embeddings`) as parquet with the same column
names, physical types and value shapes as the engine's test fixtures: keys
are dense from 0, money is whole cents as DOUBLE, dates are naive
TIMESTAMP(MICROS), 5% of documents are near-duplicates (an earlier text plus
" dup"), embeddings are unit-length FLOAT[64].

Everything is drawn from one `numpy.random.Generator` seeded with the
benchmark seed, and parquet is written with fixed options and one row group
per file, so the same seed and sizes give byte-identical files and
different seeds give different ones.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = "large hot blue old cold small red new".split()
PART_NOUN = "ring bolt plate gear rod widget gizmo anvil".split()
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def sizes(scale, lineitem=None):
    """Row counts of a TPC-H-like star at scale `scale` (1.0 = sf1); the
    fact table can be sized on its own for the ETL workload."""
    n = lambda k: max(1, int(round(k * scale)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": lineitem if lineitem is not None else n(6_000_000),
        "events": n(1_000_000), "documents": n(50_000),
        "embeddings": max(500, n(20_000)),
    }


def _cents(rng, lo, hi, n):
    # whole cents / 100.0 is the double closest to the 2-decimal value, the
    # same double a decimal literal parses to
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows), use_dictionary=True,
                   write_statistics=True)


def _tables(rng, sz, only):
    out = {}
    if "region" in only:
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS})
    if "nation" in only:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if "supplier" in only:
        k = sz["supplier"]
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, k)})
    if "customer" in only:
        k = sz["customer"]
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, k),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, k)]})
    if "part" in only:
        k = sz["part"]
        adj, noun = rng.integers(0, 8, k), rng.integers(0, 8, k)
        out["part"] = pa.table({
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, k)],
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": (90_000 + (np.arange(k) % 1000) * 10) / 100.0})
    if "orders" in only:
        k = sz["orders"]
        days = rng.integers(0, 2404, k)  # 1995-01-01 .. 2001-08-01
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, sz["customer"], k), pa.int64()),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, k)],
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, k),
            "o_orderdate": _ts(EPOCH_1995.astype(np.int64) + days * DAY_US),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, k)]})
    if "lineitem" in only:
        k = sz["lineitem"]
        days = rng.integers(1, 2499, k)  # 1995-01-02 .. 2001-11-04
        rf = np.array(["A", "N", "R"])[rng.integers(0, 3, k)]
        ls = np.array(["O", "F"])[rng.integers(0, 2, k)]
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(rng.integers(0, sz["orders"], k), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, sz["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, sz["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": pa.array(rf, pa.string()),
            "l_linestatus": pa.array(ls, pa.string()),
            "l_shipdate": _ts(EPOCH_1995.astype(np.int64) + days * DAY_US)})
    if "events" in only:
        k = sz["events"]
        start = np.datetime64("2024-01-01", "us").astype(np.int64)
        ts = np.sort(rng.integers(0, 30 * DAY_US, k)) + start
        value = np.maximum(1, np.round(rng.exponential(5000.0, k))) / 100.0
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(10, k * 15 // 1000), k), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, k)],
            "value": value,
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)]})
    if "documents" in only:
        k = sz["documents"]
        texts = []
        for i in range(k):
            if i >= 20 and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                n = int(rng.integers(10, 101))
                texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, k, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if "embeddings" in only:
        k = sz["embeddings"]
        v = rng.standard_normal((k, EMB_DIM))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        out["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, k), pa.int32())})
    return out


ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]


def generate(out_dir, seed, scale, lineitem=None, tables=ALL_TABLES,
             lineitem_files=1):
    """Write `tables` under `out_dir` as `<name>.parquet`; returns row counts.
    With `lineitem_files` > 1 the fact table is a directory of that many
    part files, so a scan of it can run as parallel tasks. The write is
    atomic per directory: a half-written set is never reused."""
    sz = sizes(scale, lineitem)
    rng = np.random.default_rng(seed)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    rows = {}
    for name, t in _tables(rng, sz, set(tables)).items():
        path = os.path.join(tmp, f"{name}.parquet")
        if name == "lineitem" and lineitem_files > 1:
            os.makedirs(path)
            step = -(-t.num_rows // lineitem_files)
            for i in range(lineitem_files):
                _write(t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
        else:
            _write(t, path)
        rows[name] = t.num_rows
    os.replace(tmp, out_dir)
    return rows
