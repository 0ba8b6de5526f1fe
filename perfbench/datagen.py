"""Seeded input tables for the benchmark.

Writes the ten tables the engine reads (`<name>.parquet`, one file and one
row group each) with the schemas, key ranges and value distributions of the
project's sf0.01 test data, except that events span 3 days instead of 30:
that puts about 25 distinct users in each (hour, event type) group, and
most groups at the 20 or more where q18's documented HLL error band
applies. The same seed always
gives the same data; another seed gives other values with the same row
counts.

Usage: python3 perfbench/datagen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the sf0.01 make-up of the test data.
ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}
EVENT_USERS = 150
EVENT_DAYS = 3
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "hot", "large", "cold", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join small customer query order data column "
         "group filter vector stream big").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, start, end, n):
    span = (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)
    d = np.datetime64(start, "D") + rng.integers(0, span + 1, n)
    return d.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame({
        "n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})
    ck = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": rng.choice(SEGMENTS, len(ck))})
    sk = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk))})
    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, len(pk)), rng.choice(PART_NOUN, len(pk)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": rng.choice(PART_TYPES, len(pk)),
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    ok = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pd.DataFrame({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], len(ok)).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(ok)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(ok)),
        "o_orderpriority": rng.choice(PRIORITIES, len(ok))})
    m = n["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    e = n["events"]
    # Event time increases with event_id, as in a replayed log.
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, e))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 101, d)]
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = n["embeddings"]
    g = rng.standard_normal((v, 64))
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": list(g.astype(np.float32)),
        "label": rng.integers(0, 10, v).astype(np.int32)})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed).items():
        t = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            t = t.set_column(1, "embedding",
                             pa.array(df["embedding"].tolist(), pa.list_(pa.float32())))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
