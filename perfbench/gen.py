"""Seeded input tables for the benchmark.

The program reads ten parquet tables (`graft.sources.Tables.fixtureNames`).
`base_tables` builds them with the shapes and value ranges of the sf0.1
test fixtures from a fixed generator seed, so their content never depends
on the run's seed. `scale_out` replicates the fact tables K times with
per-copy key offsets (orderkey, partkey, custkey, event_id), so every
join still matches and every oracle stays valid. `write` lets the run's
seed permute the rows of the scaled tables and split them into many part
files, the reference's many-objects-per-table layout.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# key column -> rows per copy of the table that owns the key
OFFSETS = {"orderkey": 150_000, "partkey": 20_000, "custkey": 15_000,
           "event_id": 100_000}
SCALED = {"customer": {"c_custkey": "custkey"},
          "part": {"p_partkey": "partkey"},
          "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
          "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey"},
          "events": {"event_id": "event_id"}}
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
DAY_US = 86_400_000_000


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def base_tables():
    """The sf0.1-shaped tables; the same on every call."""
    rng = np.random.default_rng(42)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = 15_000
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = 1_000
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = 20_000
    adj = ["large", "hot", "blue", "old", "new", "small", "red", "cold"]
    noun = ["ring", "bolt", "gear", "rod", "anvil", "plate", "nut", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})
    n = 150_000
    day0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    odate = day0 + rng.integers(0, 2404, n) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = 600_000
    okey = rng.integers(0, 150_000, n)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 95, n) * DAY_US)})
    n = 100_000
    step = 30 * DAY_US // n
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(t0 + np.arange(n) * step + rng.integers(0, step, n)),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.minimum(np.round(rng.exponential(60.0, n), 2), 560.21),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    n = 5_000
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 101, n)]
    # near duplicates (a copy plus one word) and a few exact copies, for
    # the dedup and LSH entries
    for i in rng.choice(np.arange(100, n), 258, replace=False):
        j = int(rng.integers(0, i))
        texts[i] = texts[j] if i % 32 == 0 else texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n,
                      p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    n = 2_000
    label = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 1.5, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def scale_out(tables, k):
    """K copies of the fact tables, keys shifted per copy."""
    out = dict(tables)
    for name, keys in SCALED.items():
        base = tables[name]
        copies = []
        for c in range(k):
            cols = {f: (pa.array(base[f].to_numpy() + c * OFFSETS[keys[f]], pa.int64())
                        if f in keys else base[f]) for f in base.column_names}
            copies.append(pa.table(cols, schema=base.schema))
        out[name] = pa.concat_tables(copies)
    return out


def write(tables, out_dir, seed=None, parts=1):
    """Write every table under `out_dir`. With a seed, each scaled table's
    rows are permuted and split into `parts` files in `<name>.parquet/`."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        t = tables[name]
        path = os.path.join(tmp, f"{name}.parquet")
        if seed is None or name not in SCALED:
            pq.write_table(t, path)
            continue
        os.makedirs(path)
        perm = rng.permutation(t.num_rows)
        for i, chunk in enumerate(np.array_split(perm, parts)):
            pq.write_table(t.take(pa.array(chunk)),
                           os.path.join(path, f"part-{i:05d}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def digest(data_dir):
    """Content digest per table: file bytes, in file-name order."""
    out = {}
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        h = hashlib.sha256()
        for f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
        out[name] = h.hexdigest()
    return out


def row_counts(tables):
    return {name: t.num_rows for name, t in tables.items()}
