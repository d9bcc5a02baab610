"""Oracle check: each entry's result against its DuckDB oracle.

The rules are those of tools/check_correctness.py: columns sorted by
name, rows sorted, values compared exactly (a float that only matches
within a tolerance is a mismatch). The oracle's canonical rows are
cached per (oracle SQL, input tables), because a full DuckDB pass over
the text and streaming entries takes minutes; the seed only permutes
rows and file splits, so every seed of one scale shares one cache entry.
"""
import glob
import hashlib
import math
import os
import pickle

import duckdb

import gen


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    for t in gen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(x):
        nan = isinstance(x, float) and math.isnan(x)
        return (x is None, str(type(x)), nan, 0.0 if nan else x)
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(key(x) for x in t))


def expected(con, sql, data_key, cache_dir):
    h = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"{h}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rows = con.execute(sql).fetchall()
    result = canon(rows, [d[0] for d in con.description])
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(result, f)
    os.replace(path + ".tmp", path)
    return result


def check(data_dir, data_key, results_dir, oracle_sql, entries, cache_dir):
    """Returns {entry: None if it matches, else the reason}."""
    con = connect(data_dir)
    verdict = {}
    for name in entries:
        if name not in oracle_sql:
            verdict[name] = "no oracle"
            continue
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            verdict[name] = "no result"
            continue
        rows = con.execute(
            f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").fetchall()
        got = canon(rows, [d[0] for d in con.description])
        try:
            exp = expected(con, oracle_sql[name], data_key, cache_dir)
        except duckdb.Error as e:
            verdict[name] = f"oracle error: {e}"
            continue
        if got[0] != exp[0]:
            verdict[name] = f"columns {got[0]} != {exp[0]}"
        elif len(got[1]) != len(exp[1]):
            verdict[name] = f"rows {len(got[1])} != {len(exp[1])}"
        elif got[1] != exp[1]:
            verdict[name] = "value mismatch"
        else:
            verdict[name] = None
    return verdict
