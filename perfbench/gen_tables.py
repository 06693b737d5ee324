#!/usr/bin/env python3
"""Write the query workloads' input tables: one parquet file per table.

    python3 perfbench/gen_tables.py <out_dir>

A TPC-H-shaped star schema plus `events`, `documents` and `embeddings`,
with the schemas `graft.core.Tables` reads, at scale factor 0.01
(60,000 lineitem rows). The contents are fixed (generator seed 42), so
the golden result hashes in perfbench/golden/ stay valid; the benchmark
seed only orders the queries. Timestamps are naive microsecond values,
as the engine's readers expect.
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000,
             events=10000, documents=500, embeddings=500)
VOCAB = ("join hash row batch scan column customer filter small slow merge order vector line "
         "table data agg value key stream window a spark part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]


def days(rng, n, start, end):
    """n naive midnight timestamps drawn uniformly from [start, end)."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def documents(rng, n):
    """Bag-of-words texts; about one in ten is a near duplicate of an
    earlier text (a word dropped or a marker appended)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[rng.integers(0, i)].split()
            if rng.random() < 0.5 and len(words) > 5:
                del words[rng.integers(0, len(words))]
            words.append("dup")
        else:
            words = list(rng.choice(VOCAB, rng.integers(10, 100)))
        texts.append(" ".join(words))
    lang = rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return dict(doc_id=pa.array(np.arange(n, dtype=np.int64)), text=pa.array(texts),
                lang=pa.array(lang), source=pa.array([f"src{i % 20}" for i in range(n)]),
                n_chars=pa.array(np.array([len(t) for t in texts], dtype=np.int64)))


def embeddings(rng, n, dim=64, labels=10):
    """Unit vectors clustered around one centroid per label."""
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centroids[label] + 0.8 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return dict(vec_id=pa.array(np.arange(n, dtype=np.int64)),
                embedding=pa.array([list(v) for v in vecs.astype(np.float32)], pa.list_(pa.float32())),
                label=pa.array(label.astype(np.int32)))


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(42)
    n = SIZES
    write(out, "region", dict(r_regionkey=pa.array(np.arange(5, dtype=np.int32)),
                              r_name=pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])))
    write(out, "nation", dict(n_nationkey=pa.array(np.arange(25, dtype=np.int32)),
                              n_name=pa.array([f"NATION_{i}" for i in range(25)]),
                              n_regionkey=pa.array(rng.integers(0, 5, 25).astype(np.int32))))
    write(out, "customer", dict(
        c_custkey=pa.array(np.arange(n["customer"], dtype=np.int64)),
        c_name=pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        c_nationkey=pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        c_acctbal=pa.array(np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2)),
        c_mktsegment=pa.array(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                                         n["customer"]))))
    write(out, "supplier", dict(
        s_suppkey=pa.array(np.arange(n["supplier"], dtype=np.int64)),
        s_name=pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        s_nationkey=pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        s_acctbal=pa.array(np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2))))
    colors = ["blue", "cold", "hot", "red", "small", "big", "green", "old"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    np_ = n["part"]
    write(out, "part", dict(
        p_partkey=pa.array(np.arange(np_, dtype=np.int64)),
        p_name=pa.array([f"{colors[a]} {nouns[b]}" for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))]),
        p_brand=pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)]),
        p_type=pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], np_)),
        p_size=pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        p_retailprice=pa.array(np.round(900 + (np.arange(np_) % 1000) / 10, 2))))
    no = n["orders"]
    write(out, "orders", dict(
        o_orderkey=pa.array(np.arange(no, dtype=np.int64)),
        o_custkey=pa.array(rng.integers(0, n["customer"], no).astype(np.int64)),
        o_orderstatus=pa.array(rng.choice(["F", "O", "P"], no)),
        o_totalprice=pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        o_orderdate=pa.array(days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 2))),
        o_orderpriority=pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no))))
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    write(out, "lineitem", dict(
        l_orderkey=pa.array(rng.integers(0, no, nl).astype(np.int64)),
        l_partkey=pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        l_suppkey=pa.array(rng.integers(0, n["supplier"], nl).astype(np.int64)),
        l_linenumber=pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        l_quantity=pa.array(qty),
        l_extendedprice=pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
        l_discount=pa.array(rng.integers(0, 11, nl) / 100.0),
        l_tax=pa.array(rng.integers(0, 9, nl) / 100.0),
        l_returnflag=pa.array(rng.choice(["A", "N", "R"], nl)),
        l_linestatus=pa.array(rng.choice(["F", "O"], nl)),
        l_shipdate=pa.array(days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 12, 1)))))
    ne = n["events"]
    gaps = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64)
    write(out, "events", dict(
        event_id=pa.array(np.arange(ne, dtype=np.int64)),
        ts=pa.array(np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")),
        user_id=pa.array(rng.integers(0, 150, ne).astype(np.int64)),
        event_type=pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], ne)),
        value=pa.array(np.round(rng.exponential(50, ne) + 0.01, 2)),
        props=pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])))
    write(out, "documents", documents(rng, n["documents"]))
    write(out, "embeddings", embeddings(rng, n["embeddings"]))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
