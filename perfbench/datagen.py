"""Fixture-shaped input tables for the benchmark.

Writes the ten parquet tables that `graft.SparkEntry.queries` read
(region nation customer supplier part orders lineitem events documents
embeddings) with the schemas listed in FIXTURES.md, at the sf0.01 row
counts. The tables are a pure function of the data seed: the same seed
writes the same bytes. Documents follow the fixture corpus: 10-99 words
drawn from one 30-word vocabulary whatever the `lang` label, no
punctuation, and exactly 5% planted near-duplicates (another, distinct
document's text plus " dup"), so the dedup operators find the fixture's
share of work.
"""
import datetime as dt
import glob
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"region": 5, "nation": 25, "supplier": 100, "customer": 1500,
        "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
        "documents": 500, "embeddings": 500}
TABLES = tuple(ROWS)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EPOCH_1995 = dt.datetime(1995, 1, 1)
EPOCH_2024 = dt.datetime(2024, 1, 1)


def _cents(x):
    return np.round(x, 2)


def _days(rng, n, lo, hi):
    """timestamps at midnight, `lo`..`hi` days after 1995-01-01, in us."""
    base = int(EPOCH_1995.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return base + rng.integers(lo, hi, n).astype(np.int64) * 86_400_000_000


def tables(seed):
    """{name: pyarrow.Table} for every fixture table."""
    rng = np.random.default_rng(seed)
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n["supplier"]))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n["customer"])),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(ADJ, np_), rng.choice(NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": _cents(900.0 + (np.arange(np_) % 1000) / 10.0)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, no, 0, 2404), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(18.0, 2100.0, nl)),
        "l_discount": _cents(rng.integers(0, 11, nl) / 100.0),
        "l_tax": _cents(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, nl, 1, 2499), pa.timestamp("us"))})
    ne = n["events"]
    base = int(EPOCH_2024.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    gaps = rng.integers(1, 518_365_000, ne).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(base + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _cents(rng.uniform(0.01, 350.0, ne)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, nd):
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100)))
             for _ in range(nd)]
    planted = rng.choice(nd, nd // 20, replace=False)
    bases = rng.choice(np.setdiff1d(np.arange(nd), planted), len(planted),
                       replace=False)
    for i, b in zip(planted, bases):
        texts[i] = texts[b] + " dup"
    langs = rng.choice(LANGS, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def _embeddings(rng, nv, dim=64):
    v = rng.normal(size=(nv, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


def write(base, seed):
    """Write every table as `<base>/data-<seed>-<hash>/<name>.parquet`
    (single row group, like the fixtures) unless a complete set is already
    there, and return that directory. The hash is over this file, so an
    edit to the generator writes fresh tables instead of reusing stale
    ones; sets from other versions are removed."""
    with open(os.path.abspath(__file__), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:12]
    out_dir = os.path.join(base, f"data-{seed}-{stamp}")
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    for old in glob.glob(os.path.join(base, f"data-{seed}-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out_dir)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()
    return out_dir
