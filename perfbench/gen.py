"""Seeded input generator for the benchmark workloads.

Reproduces the table shapes of `tools/gen_sf.py` (schemas, value ranges,
vocabulary, language/source shares, planted duplicate rate, unit-norm
embeddings) from scratch, so no source fixture is needed: the same
(table, factor, seed) always gives byte-identical parquet files. `factor`
is the multiple of the sf0.1 row counts (lineitem 600,000, documents 5,000,
embeddings 2,000).

Each table is written once per (table, factor, seed) under the cache
directory and reused by later runs with the same key.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-factor-1 row counts of the sf0.1 tables.
BASE_ROWS = {"lineitem": 600_000, "documents": 5_000, "embeddings": 2_000}

# The 31-word vocabulary of the sf0.1 documents table, in sorted order.
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
# Language shares of the sf0.1 documents table.
LANGS = {"de": 702, "en": 2059, "es": 744, "fr": 742, "zh": 753}
N_SOURCES = 20
DUP_FRAC = 0.0016
EMB_DIM = 64
# DuckDB's parquet row-group size, so Spark splits the scan like the fixtures.
ROW_GROUP = 122_880


def _lineitem(rng, n):
    # TPC-H order layout: each order holds lines 1..k, k uniform in 1..7, so
    # (l_orderkey, l_linenumber) is a unique key and a total order.
    n_orders = n // 4 + 8
    k = rng.integers(1, 8, size=n_orders)
    k[np.cumsum(k) > n] = 0
    short = n - int(k.sum())
    while short > 0:  # fill the tail with extra orders of up to 7 lines
        take = min(short, 7)
        k = np.append(k, take)
        short -= take
    k = k[k > 0]
    orderkey = np.repeat(np.arange(len(k), dtype=np.int64), k)
    starts = np.repeat(np.cumsum(k) - k, k)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    perm = rng.permutation(n)  # storage order is not key order
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    retail = rng.integers(90_000, 210_000, size=n) / 100.0
    day0 = np.datetime64("1995-01-02")
    ship = day0 + rng.integers(0, 2498, size=n).astype("timedelta64[D]")
    cols = {
        "l_orderkey": pa.array(orderkey[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, 20_000 * n // 600_000), size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, 1_000 * n // 600_000), size=n), pa.int64()),
        "l_linenumber": pa.array(linenumber[perm], pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * retail, 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), size=n), pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), size=n), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    }
    return pa.table(cols)


def _documents(rng, n):
    varr = np.array(VOCAB, dtype=object)
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(varr[rng.integers(0, len(varr), size=k)]) for k in lens]
    for j in rng.integers(0, n, size=int(round(DUP_FRAC * n))):  # exact dups
        texts[j] = texts[int(rng.integers(0, n))]
    names = list(LANGS)
    p = np.array([LANGS[x] for x in names], dtype=float)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(names, size=n, p=p / p.sum()), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, size=n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    m = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    flat = pa.array(m.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


_MAKERS = {"lineitem": _lineitem, "documents": _documents, "embeddings": _embeddings}


def generate(table, factor, seed, cache_dir):
    """Write `<cache_dir>/<table>_f<factor>_s<seed>/<table>.parquet` unless it
    exists, and return (data_dir, {"rows": .., "bytes": ..})."""
    out = os.path.join(cache_dir, f"{table}_f{factor}_s{seed}")
    path = os.path.join(out, f"{table}.parquet")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        os.makedirs(out, exist_ok=True)
        # A per-table stream derived from the seed: tables never share draws.
        rng = np.random.default_rng([seed, sorted(_MAKERS).index(table)])
        n = int(BASE_ROWS[table] * factor)
        tab = _MAKERS[table](rng, n)
        tmp = path + ".tmp"
        pq.write_table(tab, tmp, row_group_size=ROW_GROUP)
        os.replace(tmp, path)
        with open(meta_path, "w") as f:
            json.dump({"rows": tab.num_rows, "bytes": os.path.getsize(path)}, f)
    with open(meta_path) as f:
        return out, json.load(f)
