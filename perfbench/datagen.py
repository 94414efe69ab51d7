"""Seeded synthetic input tables for the benchmark.

The tables have the schema and value domains of the engine's
TPC-H-ish test data (``region nation customer supplier part orders
lineitem events documents``), so every registered query and its DuckDB
oracle run on them unchanged. Row counts scale with ``sf`` exactly like
the test data (``lineitem`` = 6,000,000 x sf). The same seed always gives
the same tables; a different seed gives different values with the same
row counts, so the work per run stays comparable across seeds.

Timestamps are written as parquet ``timestamp[us]`` without a zone, the
layout ``catalog.load_table`` normalises.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
ORDERS_START = np.datetime64("1995-01-01", "D")
ORDERS_DAYS = 2404  # 1995-01-01 .. 2001-08-01

# timestamp[us] with no zone: the same parquet layout as the test data
_TS = pa.timestamp("us")


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return (ORDERS_START + rng.integers(0, days, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """Every table at scale ``sf``, drawn from one generator seeded by
    ``seed`` (tables are drawn in a fixed order, so each is a pure
    function of the seed)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 40)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 20)

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pd.DataFrame({
        "c_custkey": ck,
        "c_name": _keyed_names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": _keyed_names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, ORDERS_DAYS),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, ORDERS_DAYS + 95),
    })
    t["events"] = make_events(rng, n_ev, n_users)
    t["documents"] = make_documents(rng, n_docs)
    return t


def make_events(rng: np.random.Generator, n: int, n_users: int) -> pd.DataFrame:
    """Event stream in timestamp order: exponential gaps over 30 days,
    exponential values with a thin high tail (so the small-then-large
    fraud rule has matches), uniform users and event types."""
    gaps = rng.exponential(1.0, n)
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (EVENTS_SPAN_US - 1))
    value = rng.exponential(50.0, n)
    tail = rng.random(n) < 0.01
    value[tail] = rng.uniform(350.0, 600.0, int(tail.sum()))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENTS_START + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(value, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def make_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Short documents over a 30-word vocabulary, 10-100 tokens each."""
    lengths = rng.integers(10, 101, n)
    words = rng.choice(VOCAB, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })


def write_table(df: pd.DataFrame, path: str) -> None:
    """One parquet file, timestamps as microsecond and zone-less."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    fields = [
        pa.field(f.name, _TS) if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ]
    pq.write_table(table.cast(pa.schema(fields)), path)


def stage_tables(tables: dict[str, pd.DataFrame], directory: str,
                 names: list[str] | None = None) -> str:
    """Write ``<directory>/<name>.parquet`` for each table, the layout
    ``catalog.load_table`` reads."""
    os.makedirs(directory, exist_ok=True)
    for name in names or list(tables):
        write_table(tables[name], os.path.join(directory, f"{name}.parquet"))
    return directory
