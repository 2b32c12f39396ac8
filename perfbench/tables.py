"""Seeded generator for the read-side tables the registry queries.

Writes the TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings`` as one parquet file each, with the column names and types
the registry expects. The data seed is fixed: every run reads the same
tables, so the oracle hashes stored beside this file stay valid. The
workload seed changes which operations run and in what order, never the
tables.

Generated tables are cached under ``perfbench/.data/<sf>/`` (ignored by
git); a directory is complete once its ``DONE`` marker exists.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
HERE = os.path.dirname(os.path.abspath(__file__))
DATA_ROOT = os.path.join(HERE, ".data")

# rows per table at each scale factor; sized like the registry's own
# sf0.001 / sf0.01 / sf0.1 fixtures
SIZES = {
    "sf0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                    lineitem=6000, events=1000, users=15, documents=500,
                    embeddings=500),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, users=150, documents=500,
                   embeddings=500),
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, users=1500,
                  documents=5000, embeddings=2000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def make_tables(sf: str) -> dict[str, pd.DataFrame]:
    """All tables at scale ``sf`` as DataFrames, from the fixed data seed."""
    n = SIZES[sf]
    rng = np.random.default_rng([DATA_SEED, list(SIZES).index(sf)])
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    k = n["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": rng.choice(SEGMENTS, k)})
    k = n["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k)})
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": rng.choice(names, k),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": rng.choice(PART_TYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 2)})
    k = n["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, k)})
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, k), 2),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], k),
        "l_linestatus": rng.choice(["F", "O"], k),
        "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04")})
    k = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    out["events"] = pd.DataFrame({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, span_us, k)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], k).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)]})
    k = n["documents"]
    texts = [_text(rng, int(w)) for w in rng.integers(10, 90, k)]
    # one document in ten repeats an earlier one with its tail rewritten,
    # so the near-duplicate and decontamination entries find matches
    for i in range(1, k):
        if rng.random() < 0.1:
            head = texts[int(rng.integers(0, i))].split()
            cut = max(1, len(head) * 3 // 4)
            texts[i] = " ".join(head[:cut]) + " " + _text(rng, len(head) - cut + 1)
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, k, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(k, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)})
    return out


def ensure(sf: str) -> str:
    """Directory holding the tables at ``sf``, generating it if absent."""
    path = os.path.join(DATA_ROOT, sf)
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in make_tables(sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", table.column("embedding").cast(pa.list_(pa.float32())))
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path
