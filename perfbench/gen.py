"""Deterministic input tables for the benchmark.

Writes the ten tables every lane reads (`region nation customer supplier
part orders lineitem events documents embeddings`), one single-row-group
parquet file each, with the schemas and value distributions of the
project's sf0.01 test fixture (TESTDATA.md / FIXTURES.md):

- TPC-H-like star schema, keys dense from 0, every attribute drawn
  independently and uniformly (prices to the cent, dates to the day);
- `events`: 30 days of time-ordered events from 2024-01-01, exponential
  values, `props` a one-key JSON string;
- `documents`: 10-100 words drawn from a 30-word vocabulary, and 5% of
  the documents are another document's text plus the token `dup` (the
  near-duplicate structure the dedup lanes find);
- `embeddings`: 64-dim unit-norm gaussian float vectors with a label.

The same seed always gives byte-identical files.

    python3 perfbench/gen.py <out_dir> [seed]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixture. `documents` and `embeddings` do not
# scale with the fact tables in the fixture either.
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
VERSION = 1   # bump when the output of this file changes

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _micros(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n, start, span):
    day = 86_400_000_000
    return pa.array(_micros(start) + rng.integers(0, span, n) * day,
                    pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def tables(seed: int = 42):
    """All ten tables as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"])})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(np_), i64),
        "p_name": _pick(rng, names, np_),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, no, dt.datetime(1995, 1, 1), 2405),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, dt.datetime(1995, 1, 2), 2499)})
    ne = n["events"]
    start = _micros(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + start
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    nd = n["documents"]
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), m)])
             for m in rng.integers(10, 101, nd)]
    dups = rng.choice(nd, nd // 20, replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for d in dups:
        texts[d] = texts[rng.choice(originals)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
    return out


def write(out_dir: str, seed: int = 42) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 42)
