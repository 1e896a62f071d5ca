"""The benchmark's own checks and arithmetic, independent of the engine.

- `compare`: a result table against a reference table, exactly, after
  sorting columns by name and rows by value (the rule of the project's
  DuckDB oracle gate).
- `replay_admission`: the streaming near-duplicate admission rule,
  replayed sequentially over per-document band keys.
- `upsert_reference`: the merged `orders` table after each upsert wave,
  computed in DuckDB.
- `median`, `geomean`, `quartile_spread`: the statistics the metrics use.
"""
import math
import statistics

import pandas as pd


# ------------------------------------------------------------------ stats

def median(xs):
    return statistics.median(xs)


def geomean(xs):
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartile_spread(xs):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


# ------------------------------------------------------------- comparison

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    key = df.astype(str)
    return df.loc[key.sort_values(by=list(df.columns)).index].reset_index(drop=True)


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT


def cell_eq(a, b) -> bool:
    if _missing(a) or _missing(b):
        return _missing(a) and _missing(b)
    if hasattr(a, "__len__") and not isinstance(a, (str, bytes)):
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(cell_eq(x, y) for x, y in zip(la, lb))
    return a == b


def compare(got: pd.DataFrame, exp: pd.DataFrame):
    """None when equal, else a one-line reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if not cell_eq(x, y):
                return f"row {i} column {c}: {x!r} != {y!r}"
    return None


# ---------------------------------------------------------------- replay

def replay_admission(waves, keys_of):
    """Decisions of the streaming minhash admission rule.

    `waves`: list of lists of doc ids, in arrival order. `keys_of`: doc id
    -> set of (band, sig) keys (a doc without keys never matches). Rule:
    a doc whose key is already in the store of admitted keys is a
    duplicate; among the rest of its wave, a doc sharing a key with a
    lower id of that rest is a duplicate; the others are admitted and
    their keys join the store.

    Returns ({doc: is_dup}, [store size after each wave])."""
    store = set()
    decided = {}
    sizes = []
    for wave in waves:
        rest = []
        for d in sorted(wave):
            hit = bool(keys_of.get(d, set()) & store)
            decided[d] = hit
            if not hit:
                rest.append(d)
        seen = set()
        admitted = []
        for d in rest:               # ascending id
            ks = keys_of.get(d, set())
            if ks & seen:
                decided[d] = True
            else:
                admitted.append(d)
            seen |= ks
        for d in admitted:
            store |= keys_of.get(d, set())
        sizes.append(len(store))
    return decided, sizes


def check_decisions(decisions: pd.DataFrame, waves, keys_of):
    """None when every document is decided exactly once and the
    decisions equal the replay; else a one-line reason."""
    ids = decisions["doc_id"].tolist()
    every = sorted(d for w in waves for d in w)
    if len(ids) != len(set(ids)):
        return f"{len(ids) - len(set(ids))} documents decided more than once"
    if sorted(ids) != every:
        return f"decided {len(ids)} documents, {len(every)} arrived"
    want, _ = replay_admission(waves, keys_of)
    got = dict(zip(ids, decisions["is_dup"].tolist()))
    bad = [d for d in every if bool(got[d]) != want[d]]
    if bad:
        return f"{len(bad)} decisions differ from the replay, first doc {bad[0]}"
    return None


# ---------------------------------------------------------------- upsert

ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]
UPDATE_COLS = ["o_orderstatus", "o_totalprice", "o_orderdate"]


def upsert_reference(con, base_sql: str, wave_files, after_wave=None):
    """Apply each wave file to a DuckDB copy of `base_sql` in order: rows
    whose key exists update UPDATE_COLS, the rest insert. Calls
    `after_wave(i)` with table `orders` holding the state after wave i."""
    cols = ", ".join(ORDERS_COLS)
    con.execute(f"CREATE OR REPLACE TABLE orders AS SELECT {cols} FROM ({base_sql})")
    for i, f in enumerate(wave_files):
        con.execute(f"CREATE OR REPLACE TEMP TABLE src AS SELECT {cols} FROM read_parquet('{f}')")
        sets = ", ".join(f"{c} = src.{c}" for c in UPDATE_COLS)
        con.execute(f"UPDATE orders SET {sets} FROM src WHERE orders.o_orderkey = src.o_orderkey")
        con.execute(f"INSERT INTO orders SELECT {cols} FROM src "
                    "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders)")
        if after_wave:
            after_wave(i)
