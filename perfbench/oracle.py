"""DuckDB oracle check of query outputs.

A query's expected result is its `SparkEntry.oracleSql` run in DuckDB
over the same fixture parquet, normalized the way `tools/check_oracle.py`
normalizes it: columns sorted by name, object values as strings,
timestamps as ISO strings, rows sorted. Expected results are cached per
(query, fixture, SQL text); every run's own output is compared afresh.
"""
import hashlib
import os
import pickle

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns),
                          kind="mergesort").reset_index(drop=True)


def connect(fixture):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        path = os.path.join(fixture, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def fixture_key(fixture):
    sig = [(t, os.path.getsize(os.path.join(fixture, f"{t}.parquet")))
           for t in TABLES]
    return repr(sig)


class Oracles:
    """Expected results for one fixture directory, cached on disk."""

    def __init__(self, fixture, cache_dir):
        self.fixture = fixture
        self.cache_dir = cache_dir
        self.key = fixture_key(fixture)
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    @property
    def con(self):
        if self._con is None:
            self._con = connect(self.fixture)
        return self._con

    def _path(self, name, sql):
        h = hashlib.sha256((self.key + "\0" + sql).encode()).hexdigest()[:16]
        return os.path.join(self.cache_dir, f"{name}-{h}.pkl")

    def expected(self, name, sql):
        path = self._path(name, sql)
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        want = normalize(self.con.execute(sql).df())
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(want, f)
        os.replace(tmp, path)
        return want

    def cached(self, name, sql):
        return os.path.exists(self._path(name, sql))


def compare(got, want):
    """None when the normalized frames hold the same values, else why not.
    Numeric dtype-only differences (int32 vs int64) are aligned first."""
    g, w = normalize(got), want.copy()
    if list(g.columns) != list(w.columns):
        return f"columns: got {list(g.columns)} want {list(w.columns)}"
    if len(g) != len(w):
        return f"rows: got {len(g)} want {len(w)}"
    for c in g.columns:
        gd, wd = str(g[c].dtype), str(w[c].dtype)
        if gd != wd:
            common = "float64" if ("float" in gd or "float" in wd) else "int64"
            try:
                g[c] = g[c].astype(common)
                w[c] = w[c].astype(common)
            except (TypeError, ValueError):
                return f"dtype: {c} got {gd} want {wd}"
    if not g.equals(w):
        neq = (g != w) & ~(g.isna() & w.isna())
        return "values differ in " + ", ".join(
            c for c in g.columns if neq[c].any())
    return None


def read_output(con, path):
    return con.execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
