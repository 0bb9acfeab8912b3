"""Deterministic inputs for the benchmark.

Two kinds of input:

* ``make_tables`` writes the engine's ten test tables (the TPC-H-shaped
  star schema plus ``events``, ``documents`` and ``embeddings``) at a
  given scale factor. The shapes follow the engine's fixture tables:
  independent uniform columns, ~4 lines per order, exponential event
  values, a 30-word document vocabulary with 5 % planted near-duplicates
  (" dup" appended to an earlier document) and 64-d unit embeddings.
  The tables are static inputs, so they come from a fixed seed and are
  cached under ``.work/data``; the run's ``--seed`` does not touch them.
* ``tick_files`` builds the tick stream for ``tick_stream`` from the
  run's seed: one market snapshot per file, in which the symbols that
  did not trade since the last file re-send their earlier rows exactly.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "green", "small", "large", "steel", "bright", "dark"]
PART_NOUN = ["anvil", "widget", "bolt", "ring", "gear", "spring", "valve", "hinge"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the data spark table query join filter group order sort hash merge key value "
    "row column batch stream window scan agg part line customer small big fast slow vector"
).split()

_US_PER_DAY = 86_400_000_000


def _epoch_us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, start: dt.datetime, end: dt.datetime, n: int) -> np.ndarray:
    n_days = (end - start).days + 1
    return _epoch_us(start) + rng.integers(0, n_days, n) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _tables(rng, sf: float) -> dict[str, dict]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    lines = rng.poisson(4, n_ord)
    n_li = int(lines.sum())
    t["lineitem"] = {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype="int64"), lines),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li)),
    }
    start = _epoch_us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n_events))
    t["events"] = {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    }
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, 30, rng.integers(10, 100))))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    }
    vecs = rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }
    return t


def make_tables(root: str, sf: float) -> str:
    """Return the directory holding the tables at ``sf``, writing them on
    first use. A finished directory is renamed into place, so an
    interrupted run never leaves a half-written table set behind."""
    out = os.path.join(root, f"sf{sf:g}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in _tables(np.random.default_rng(TABLE_SEED), sf).items():
        _write(tmp, name, cols)
    os.rename(tmp, out)
    return out


# -- tick stream ---------------------------------------------------------

TICK_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
TICK_START = dt.datetime(2024, 2, 1)


def tick_files(
    seed: int,
    n_files: int,
    symbols: int,
    first_id: int = 0,
    resend_share: float = 0.1,
    event_seconds_per_file: float = 600.0,
    t0: dt.datetime = TICK_START,
) -> list[pa.Table]:
    """Return ``n_files`` tick tables, each a market snapshot with one row
    per symbol (``user_id``). ``value`` is the tick's percentage change
    (about 5 % of ticks exceed the 5 % alert threshold). Event time
    advances ``event_seconds_per_file`` per file. In each file after the
    first, a ``resend_share`` of the symbols did not trade: their rows
    are exact copies of their rows in the previous file, so
    deduplication has a deterministic answer."""
    rng = np.random.default_rng(seed)
    base = _epoch_us(t0)
    step = int(event_seconds_per_file * 1_000_000)
    out: list[pa.Table] = []
    prev: pa.Table | None = None
    next_id = first_id
    for i in range(n_files):
        n_resend = int(round(symbols * resend_share)) if prev is not None else 0
        n_new = symbols - n_resend
        traded = np.sort(rng.choice(symbols, n_new, replace=False))
        ts = np.sort(base + i * step + rng.integers(0, step, n_new))
        fresh = pa.table(
            {
                "event_id": np.arange(next_id, next_id + n_new, dtype="int64"),
                "ts": _ts(ts),
                "user_id": traded.astype("int64"),
                "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_new)],
                "value": np.round(rng.normal(0.0, 3.0, n_new), 4),
                "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_new)],
            },
            schema=TICK_SCHEMA,
        )
        next_id += n_new
        if n_resend:
            stale = ~np.isin(prev["user_id"].to_numpy(), traded)
            fresh = pa.concat_tables([fresh, prev.filter(pa.array(stale))])
        out.append(fresh)
        prev = fresh
    return out


def land(table: pa.Table, directory: str, name: str) -> None:
    """Write ``table`` under a hidden name, then rename it into place:
    the file source never sees a partly written file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))
