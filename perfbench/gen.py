"""Deterministic generator for the benchmark's base tables.

Writes the ten parquet tables the engine's queries read (`region`, `nation`,
`customer`, `supplier`, `part`, `orders`, `lineitem`, `events`, `documents`,
`embeddings`) with the same column names, types and value ranges as the
project's TPC-H-ish test data: one row group per file, microsecond
timestamps without a time zone, two-decimal money columns.

The base tables depend only on the scale factor and a fixed data seed, so a
run's numbers do not move with the data. The benchmark's `--seed` picks the
stable half and the delta slices of `events` and `orders` (`inputs`) and the
order of the queries.

    python3 perfbench/gen.py <out_dir> <sf>
"""
import os
import sys

import duckdb
import numpy as np
import pandas as pd

DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "bolt", "gear", "ring", "rod", "plate", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
EMBED_DIM = 64


def counts(sf):
    """Row counts per table at scale factor `sf` (TPC-H proportions)."""
    return {
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "users": max(1, int(15_000 * sf)),
        "documents": 5000 if sf >= 0.1 else 500,
        "embeddings": 2000 if sf >= 0.1 else 500,
    }


def days(base, offsets):
    return pd.Timestamp(base) + pd.to_timedelta(offsets, unit="D")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def frames(sf):
    """All ten tables as pandas frames, fully determined by `sf`."""
    rng = np.random.RandomState(DATA_SEED)
    n = counts(sf)
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    c = n["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.randint(0, 25, c).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.randint(0, 25, s).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p),
                                              rng.choice(PART_NOUN, p))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": rng.randint(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})
    o = n["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.randint(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": money(rng, 1000.0, 500000.0, o),
        "o_orderdate": days("1995-01-01", rng.randint(0, 2404, o)),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    qty = rng.randint(1, 51, li).astype(np.float64)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.randint(0, o, li).astype(np.int64),
        "l_partkey": rng.randint(0, p, li).astype(np.int64),
        "l_suppkey": rng.randint(0, s, li).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(901.0, 2100.0, li), 2),
        "l_discount": rng.randint(0, 11, li) / 100.0,
        "l_tax": rng.randint(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": days("1995-01-02", rng.randint(0, 2498, li))})
    e = n["events"]
    micros = np.sort(rng.randint(0, 30 * 86400 * 10**6, e))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(micros, unit="us"),
        "user_id": rng.randint(0, n["users"], e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i >= 20 and rng.rand() < 0.05:
            # a near-duplicate of an earlier document, as dedup expects
            texts.append(texts[rng.randint(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.randint(10, 100))))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    m = n["embeddings"]
    labels = rng.randint(0, 10, m)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)})
    return out


def write(out_dir, sf):
    """Write every table to `out_dir/<table>.parquet`, one row group each."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, df in frames(sf).items():
        con.register("frame", df)
        cast = "embedding::FLOAT[] AS embedding" if name == "embeddings" else None
        cols = ", ".join(cast if cast and col == "embedding" else col
                         for col in df.columns)
        tmp = os.path.join(out_dir, f".{name}.parquet")
        con.execute(f"COPY (SELECT {cols} FROM frame) TO '{tmp}' "
                    "(FORMAT PARQUET, ROW_GROUP_SIZE 100000000)")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
        con.unregister("frame")
    con.close()


# The classes the ivm_stream views and its ad-hoc query select on. Every
# slice takes the same number of rows from each class, so every view grows
# by the same number of rows per epoch whatever the seed.
STRATA = {
    "events": "event_type || (value > 50)::VARCHAR",
    "orders": "(o_totalprice > 300000)::INT + (o_totalprice > 250000)::INT",
}


def inputs(base_dir, out_dir, seed, frac, max_slices):
    """The ivm_stream inputs for `seed`: a random half of each class of
    `events` and of `orders` as the stable tables, and up to `max_slices`
    slices of the other half, each taking `frac` of every class's stable
    size, tagged with `epoch`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    rng = np.random.RandomState(seed)
    parts = {}
    for name, key in (("events", "event_id"), ("orders", "o_orderkey")):
        df = con.execute(f"SELECT *, {STRATA[name]} AS stratum FROM "
                         f"read_parquet('{base_dir}/{name}.parquet') ORDER BY {key}").fetchdf()
        classes = []
        for _, rows in df.groupby("stratum", sort=True):
            idx = rng.permutation(rows.index.values)
            half = len(idx) // 2
            classes.append((idx[:half], idx[half:], max(1, int(round(frac * half)))))
        parts[name] = (df.drop(columns="stratum"), classes)
    n_slices = min([max_slices] + [len(rest) // take for _, classes in parts.values()
                                   for _, rest, take in classes])
    for name, (df, classes) in parts.items():
        key = df.columns[0]
        stable = np.sort(np.concatenate([s for s, _, _ in classes]))
        con.register("frame", df.iloc[stable])
        con.execute(f"COPY (SELECT * FROM frame ORDER BY {key}) TO "
                    f"'{out_dir}/{name}.parquet' (FORMAT PARQUET)")
        slices = [np.concatenate([rest[k * take:(k + 1) * take] for _, rest, take in classes])
                  for k in range(n_slices)]
        delta = df.iloc[np.concatenate(slices)].copy()
        delta.insert(0, "epoch", np.repeat(np.arange(n_slices, dtype=np.int32),
                                           [len(x) for x in slices]))
        con.register("frame", delta)
        con.execute(f"COPY (SELECT * FROM frame) TO "
                    f"'{out_dir}/{name}_delta.parquet' (FORMAT PARQUET)")
        con.unregister("frame")
    con.close()
    return n_slices


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
