"""Seeded tables for the benchmark's workloads.

Writes documents, events, embeddings, lineitem and orders as parquet, with
the schemas, value domains and per-scale-factor sizes of the engine's test
tables. The same seed and scale factor give the same files; a table's
contents do not depend on which other tables are written.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(start, seconds):
    return pa.array(np.datetime64(start, "us") + (seconds * 1e6).astype("timedelta64[us]"),
                    pa.timestamp("us"))


def documents(rng, sf):
    n, dups = int(50000 * sf), int(2500 * sf)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # near-duplicates: an earlier document's text plus one token
    for i in rng.choice(np.arange(1, n), dups, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng, sf):
    n = int(1000000 * sf)
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, int(15000 * sf), n), pa.int64()),
        "event_type": pa.array(rng.choice(["signup", "purchase", "view", "click", "error"], n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def embeddings(rng, sf, dim=64):
    n = max(500, int(20000 * sf))
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def lineitem(rng, sf):
    n, orders = int(6000000 * sf), int(1500000 * sf)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200000 * sf), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, int(10000 * sf), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n) * 86400.0),
    })


def orders(rng, sf):
    n = int(1500000 * sf)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, int(150000 * sf), n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], n), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n) * 86400.0),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n), pa.string()),
    })


def generate(out_dir, seed, sf, tables=None):
    """Writes `tables` (all five by default) to `out_dir`/<table>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate([("documents", documents), ("events", events),
                                      ("embeddings", embeddings), ("lineitem", lineitem),
                                      ("orders", orders)]):
        if tables is not None and name not in tables:
            continue
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng, sf), os.path.join(out_dir, f"{name}.parquet"))
