"""Inputs and output check of the catalog pass (see README.md).

generate() writes seeded tables shaped like the engine's sf0.01 test data
(documents, events, lineitem, embeddings), one parquet file each, which the
listed catalog queries read. check() runs each query's DuckDB oracle
(SparkEntry.oracleSql) over the same files and compares it with what the
engine wrote: sorted columns, sorted rows, exact values.
"""
import datetime
import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["documents", "events", "lineitem", "embeddings"]

WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.04:
            # near-duplicate of an earlier document, as in the test data
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
            continue
        length = int(rng.integers(40, 560))
        words, size = [], 0
        while size < length:
            w = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append(w)
            size += len(w) + 1
        texts.append(" ".join(words)[:length].rstrip())
    langs = rng.choice(["en", "es", "zh", "de", "fr"], size=n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(30 * 86400e6 / n, size=n).astype(np.int64)
    ts = start + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, size=n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(["click", "signup", "error", "view", "purchase"],
                                          size=n).tolist()),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def _lineitem(rng, orders):
    per = rng.integers(1, 8, size=orders)
    okey = np.repeat(np.arange(orders, dtype=np.int64), per)
    line = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in per])
    n = len(okey)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    base = datetime.date(1995, 1, 2).toordinal()
    days = rng.integers(0, 2500, size=n)
    ship = [datetime.datetime.fromordinal(base + int(d)) for d in days]
    return pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 2000, size=n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, size=n, dtype=np.int64)),
        "l_linenumber": pa.array(line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n).tolist()),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, size=n)
    v = centers[label] + 0.8 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out_dir, seed, tiny=False):
    """Writes the seeded tables into out_dir; the same seed gives the same files."""
    os.makedirs(out_dir, exist_ok=True)
    scale = 0.2 if tiny else 1.0
    rng = np.random.default_rng([seed, 0x63617461])
    tables = {
        "documents": _documents(rng, int(500 * scale)),
        "events": _events(rng, int(10000 * scale)),
        "lineitem": _lineitem(rng, int(15000 * scale)),
        "embeddings": _embeddings(rng, int(500 * scale)),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(got, want):
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            neq = ~((g.isna() & w.isna()) | (g == w))
        else:
            neq = ~(g.astype(str) == w.astype(str))
        if neq.any():
            i = neq.idxmax()
            return f"{c}[{i}]: engine {g[i]!r} != oracle {w[i]!r} ({int(neq.sum())} rows)"
    return None


def check(tables_dir, out_dir):
    """Compares each query the engine completed with its oracle; returns
    (queries checked, {query: problem} for the ones that differ)."""
    import duckdb
    import pandas as pd
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    done = json.load(open(os.path.join(out_dir, "done.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    problems = {}
    for name in done:
        try:
            want = _canon(con.execute(oracles[name]).fetchdf())
            files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
            got = _canon(pd.concat([pd.read_parquet(f) for f in files])) if files else None
            p = "no engine output" if got is None else _compare(got, want)
        except Exception as e:  # an oracle that cannot run is a failed check
            p = f"oracle error: {e}"
        if p:
            problems[name] = p
    return len(done), problems
