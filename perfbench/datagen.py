"""Seeded synthetic tables with the schema of the engine's test data.

The tables follow the TPC-H-like star schema the registry queries and
their DuckDB oracles are written against (``region nation customer
supplier part orders lineitem events documents embeddings``). Row
counts scale with ``sf`` like the test data (``lineitem`` has
6,000,000 x sf rows), values are uniform or exponential draws, and
every money or rate column carries exactly two decimals, which the
decimal-exact queries rely on. The same ``(seed, sf)`` always gives
byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "green", "red", "cold",
            "dark", "light", "metal", "plastic", "steel", "wooden"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line sort window column order small big data filter "
         "group query join stream vector customer").split()
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, low, high, n):
    return np.round(rng.uniform(low, high, n), 2)


def _days(start, rng, low_day, high_day, n):
    """Midnight timestamps ``start + [low_day, high_day)`` days."""
    return start + rng.integers(low_day, high_day, n) * _US_PER_DAY


def _ts(values):
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict:
    """All tables as ``{name: pyarrow.Table}``."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_orders = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_events = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                        rng.choice(PART_NOUN, n_part))
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(_days(_EPOCH_1995, rng, 0, 2404, n_orders)),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        # 1995-01-02 .. 2001-11-04: 83 calendar months
        "l_shipdate": _ts(_days(_EPOCH_1995, rng, 1, 2499, n_line))})
    offsets = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + offsets),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    # 8..99 words each, a fixed multiset of lengths in seeded order: every
    # seed writes the same number of words, so the shingling and MinHash
    # work does not change with the seed (with drawn lengths it moved
    # the index workload's CPU time by a fifth between seeds)
    lengths = rng.permutation(8 + np.arange(n_docs) * 92 // n_docs)
    words = rng.choice(WORDS, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    docs = [list(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    # one document in twenty is a near-duplicate of another of the same
    # length (a few words replaced), so the MinHash/LSH queries have
    # candidate pairs to find
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        same = np.flatnonzero(lengths == lengths[i])
        same = same[same != i] if len(same) > 1 else same
        copy = list(docs[int(rng.choice(same))])
        for pos in rng.integers(0, len(copy), max(1, len(copy) // 20)):
            copy[pos] = WORDS[int(rng.integers(0, len(WORDS)))]
        docs[i] = copy
    texts = [" ".join(d) for d in docs]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i}" for i in rng.permutation(n_docs) % 20],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def write_tables(tables: dict, out_dir: str, names=TABLES) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def month_index(shipdate: pa.Array) -> np.ndarray:
    """Calendar month number since 1995-01 for each timestamp."""
    months = shipdate.to_numpy(zero_copy_only=False).astype("datetime64[M]")
    return (months - np.datetime64("1995-01", "M")).astype(np.int64)


def write_months(lineitem: pa.Table, out_dir: str) -> list:
    """One parquet file per ``l_shipdate`` month; returns
    ``[(path, rows)]`` in month order."""
    os.makedirs(out_dir, exist_ok=True)
    idx = month_index(lineitem["l_shipdate"])
    order = np.argsort(idx, kind="stable")
    idx_sorted = idx[order]
    out = []
    for m in range(int(idx_sorted[-1]) + 1):
        lo, hi = np.searchsorted(idx_sorted, [m, m + 1])
        path = os.path.join(out_dir, f"month={m:03d}.parquet")
        pq.write_table(lineitem.take(order[lo:hi]), path)
        out.append((path, int(hi - lo)))
    return out
