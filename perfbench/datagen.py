"""Seeded generator for the TPC-H-shaped tables the engine's catalog loads.

The tables mirror the schema of the repository's fixture data (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings): same column names, Arrow types and value domains, with
referential integrity on every foreign key so the property graph's
endpoint guarantees hold. Row counts scale with ``sf`` the way the
fixtures do (customer = 150000 * sf, lineitem = 6000000 * sf, ...).

The same (seed, sf) always writes the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil",
             "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part "
         "merge window order column join vector").split()
LANGS = ["en", "fr", "es", "zh", "de"]
EMB_DIM = 64
EMB_CLUSTERS = 10


def _day_timestamps(rng, n: int, start: dt.date, end: dt.date) -> pa.Array:
    days = (end - start).days
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _day_timestamps(rng, n_ord, dt.date(1995, 1, 1),
                                       dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": _day_timestamps(rng, n_line, dt.date(1995, 1, 2),
                                      dt.date(2001, 11, 4))})
    # events: a 30-day stream with sorted microsecond timestamps
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev),
                            pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(40.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(8, 95, n_doc)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lens]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def ensure(root: str, seed: int, sf: float) -> str:
    """Write the tables for (seed, sf) under `root` once and return their
    directory. A marker file is written last, so a half-written directory
    from an interrupted run is regenerated."""
    out = os.path.join(root, f"sf{sf:g}-seed{seed}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in generate(seed, sf).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return out
