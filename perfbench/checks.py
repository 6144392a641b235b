"""Output checks that need DuckDB: replays of graft's own oracle SQL over the
generated input, compared with what the harness recorded.

Each function returns a list of (check_name, ok, detail).
"""
import csv
import os

import duckdb


def _connect(data_dir, table):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, table + '.parquet')}')")
    return con


def _csv_rows(path):
    with open(path) as f:
        rows = list(csv.reader(f))
    return rows[0], [tuple(int(v) for v in r) for r in rows[1:]]


def train_stream(record, data_dir):
    """Each reference epoch's per-batch facts (first and last key, size, sum
    of quantities) equal DuckDB's replay of q53's oracle form."""
    oracle = record["oracle"]
    _, got = _csv_rows(oracle["facts"])
    con = _connect(data_dir, "lineitem")
    want = [tuple(int(v) for v in r) for r in con.execute(oracle["sql"]).fetchall()]
    ok = got == want
    first = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                 min(len(got), len(want)))
    detail = "" if ok else (f"{len(got)} batches recorded vs {len(want)} replayed; "
                            f"first difference at batch row {first}")
    return [("stream.duckdb_q53_replay", ok, detail)]


def curate_corpus(record, data_dir):
    """The curated result equals DuckDB running graft's q59_full_curation
    oracle SQL over the generated corpus (compared as sets of rows)."""
    oracle = record["oracle"]
    header, got = _csv_rows(oracle["result"])
    con = _connect(data_dir, "documents")
    res = con.execute(oracle["sql"])
    names = [d[0] for d in res.description]
    idx = [names.index(c) for c in header]
    want = sorted(tuple(int(r[i]) for i in idx) for r in res.fetchall())
    got = sorted(got)
    ok = got == want
    detail = "" if ok else (f"{len(got)} rows vs {len(want)} oracle rows; "
                            f"{len(set(got) ^ set(want))} differ")
    return [("curate.duckdb_q59_oracle", ok, detail)]


def ann_serve(record, data_dir):
    return []
