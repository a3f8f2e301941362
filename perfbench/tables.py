"""Seeded input tables for `dashboard_queries`, and the DuckDB oracle check
of its results.

The tables have the schema and value ranges of the engine's test corpus
(`documents`, `events`, `orders`), at its 0.1 scale factor, so the 17
queries run unchanged; only the values come from the seed.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "fast row the agg key query a scan batch big slow line part order "
         "customer hash join filter sort group").split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                   path)


def generate(seed: int, out_dir: str) -> None:
    docs, events, orders = 5000, 100000, 150000
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_words = rng.integers(8, 100, size=docs)
    texts = [" ".join(rng.choice(WORDS, size=n)) for n in n_words]
    for i in rng.choice(docs, size=docs // 500, replace=False):
        texts[i] = texts[i] + " dup"
    _write(pd.DataFrame({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=docs),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet", pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))

    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, 60_000_000, size=events).cumsum()
    _write(pd.DataFrame({
        "event_id": np.arange(events, dtype=np.int64),
        "ts": start + gaps.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, size=events, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=events),
        "value": np.round(rng.exponential(50.0, size=events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=events)],
    }), f"{out_dir}/events.parquet", pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())]))

    day0 = np.datetime64("1995-01-01", "D")
    days = rng.integers(0, (np.datetime64("2001-08-02", "D") - day0).astype(int),
                        size=orders)
    _write(pd.DataFrame({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, 15000, size=orders, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], size=orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=orders), 2),
        "o_orderdate": (day0 + days.astype("timedelta64[D]")).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, size=orders),
    }), f"{out_dir}/orders.parquet", pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    """Why `got` differs from `exp`, or "" when they agree. Same rules as
    the engine's oracle gate: columns, row count, then values, floats
    compared exactly."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g, e = _canon(got), _canon(exp)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(ev):
            if not np.array_equal(gv.astype(float).to_numpy(),
                                  ev.astype(float).to_numpy(), equal_nan=True):
                return f"column {c}: float values differ"
        else:
            gv = gv.astype(object).where(pd.notnull(gv), None)
            ev = ev.astype(object).where(pd.notnull(ev), None)
            bad = sum(1 for a, b in zip(gv, ev) if a != b)
            if bad:
                return f"column {c}: {bad} values differ"
    return ""


def check(results_dir: str, data_dir: str, alter: bool = False) -> list:
    """Compares every result under `results_dir` with its oracle SQL run by
    DuckDB on `data_dir`; returns one message per failing query. `alter`
    plants a fault first: one changed row in one result."""
    oracle = json.load(open(f"{results_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in ("documents", "events", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failures = []
    for name, sql in sorted(oracle.items()):
        got = pd.read_parquet(f"{results_dir}/{name}")
        if alter and name == "q26_vehicle_counts_by_camera":
            got.loc[0, "total"] = got.loc[0, "total"] + 1
        why = _mismatch(got, con.sql(sql).df())
        if why:
            failures.append(f"{name}: {why}")
    return failures
