"""Deterministic input tables for the benchmark.

The tables have the shape and size of the repository's sf0.1 test data
(TESTDATA.md, FIXTURES.md §2): a TPC-H-like star schema, an `events`
stream table, and the `documents`/`embeddings` curation extras. They
are generated here rather than read from a fixed location, so a bare
checkout can run the benchmark.

The base tables depend only on GEN_SEED: every run measures the same
corpus. The workload seed (`--seed`) selects which rows go into which
shard, query or predicate; that selection happens in the JVM driver.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
VERSION = "1"  # bump when the generated tables change

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# rows per table at scale 1.0 (the sf0.1 sizes)
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}


def _ts(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    pa.timestamp("us", tz="UTC"))


def tables(scale):
    rng = np.random.default_rng(GEN_SEED)
    n = {k: max(1, int(v * scale)) for k, v in ROWS.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "small"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut"])
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, p)], " "),
                              noun[rng.integers(0, 5, p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)})
    o = n["orders"]
    odays = rng.integers(0, 2404, o)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": _ts("1995-01-01", odays * 86_400_000_000),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    lok = rng.integers(0, o, li, dtype=np.int64)
    out["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, p, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts("1995-01-01", (odays[lok] + rng.integers(1, 122, li))
                          * 86_400_000_000)})
    e = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86_400_000_000, e))),
        "user_id": rng.integers(0, 1500, e, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, 30, int(rng.integers(10, 101)))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    m = n["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return out


def ensure(dir_, scale):
    """Write the tables under dir_ unless this generator version already did."""
    stamp = os.path.join(dir_, "_VERSION")
    want = f"{VERSION} {GEN_SEED} {scale}"
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    os.makedirs(dir_, exist_ok=True)
    for name, t in tables(scale).items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(want)
