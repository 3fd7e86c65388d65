"""Seeded synthetic corpus in the shape of the engine's sf0.01 store.

Writes one parquet file per table (`events`, `lineitem`, `orders`,
`customer`, `supplier`, `part`, `nation`, `region`, `documents`,
`embeddings`) with the column names and physical types the engine's
table loaders expect. The same seed always gives byte-identical inputs.

    python3 perfbench/datagen.py <out_dir> <seed>
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "stream group big filter vector").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
THINGS = ["widget", "bolt", "ring", "plate", "gear", "pipe", "nut", "valve"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]

N_EVENTS, N_USERS = 10_000, 150
N_ORDERS, N_LINES, N_PARTS, N_CUST, N_SUPP = 15_000, 60_000, 2_000, 1_500, 100
N_DOCS, N_VECS, DIM, N_LABELS = 500, 500, 64, 10


def _us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, n, lo, hi) -> pa.Array:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(lo_d, hi_d + 1, n).astype(np.int64) * 86_400_000_000
    return pa.array(d, type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    t = {}

    # events: a 30-day stream; each element's values carry a weekly cycle
    # so the seasonal forecast methods see frequency-7 structure
    gaps = rng.exponential(30 * 86_400e6 / N_EVENTS, N_EVENTS)
    offs = np.cumsum(gaps)
    offs = offs * ((30 * 86_400e6 - 1) / offs[-1])
    etype = rng.integers(0, len(EVENT_TYPES), N_EVENTS)
    day = offs / 86_400e6
    level = 30 + 8 * etype + 10 * np.sin(2 * np.pi * day / 7 + etype)
    value = np.round(np.maximum(0.01, level * rng.lognormal(0, 0.45, N_EVENTS)), 2)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _us("2024-01-01T00:00:00", offs),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": pa.array(_money(rng, N_CUST, -999.99, 9999.99), pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, N_CUST)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": pa.array(_money(rng, N_SUPP, -999.99, 9999.99), pa.float64()),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
        "p_name": pa.array([f"{COLORS[a]} {THINGS[b]}" for a, b in
                            zip(rng.integers(0, 8, N_PARTS), rng.integers(0, 8, N_PARTS))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PARTS)]),
        "p_type": pa.array([PTYPES[i] for i in rng.integers(0, 6, N_PARTS)]),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(N_PARTS) * 0.05, 2), pa.float64()),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(_money(rng, N_ORDERS, 1000, 500000), pa.float64()),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]),
    })
    qty = rng.integers(1, 51, N_LINES).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINES), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINES), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINES), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINES), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(_money(rng, N_LINES, 900, 105000), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, N_LINES) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, N_LINES) / 100.0, pa.float64()),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINES)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, N_LINES)]),
        "l_shipdate": _days(rng, N_LINES, "1995-01-01", "2001-12-31"),
    })

    # documents: bag-of-words text over a small vocabulary, with a few
    # verbatim and near-verbatim copies so the dedup operators find work
    texts = []
    for _ in range(N_DOCS):
        n = int(rng.integers(10, 90))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n)))
    for i in rng.choice(N_DOCS, 20, replace=False):
        j = int(rng.integers(0, N_DOCS))
        texts[i] = texts[j] if rng.random() < 0.5 else texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })

    # embeddings: unit-norm vectors near one centroid per label, so the
    # vectors have a low intrinsic dimension like real sentence embeddings
    labels = rng.integers(0, N_LABELS, N_VECS)
    centers = rng.normal(0, 1, (N_LABELS, DIM))
    vecs = centers[labels] + rng.normal(0, 0.6, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write(out_dir: str, seed: int) -> None:
    import os
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
