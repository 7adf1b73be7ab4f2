"""Seeded input generators for the workloads.

Everything here is plain numpy/pyarrow: the program under test never sees
the seed, only the parquet files written from it. The same seed always
gives byte-identical files and the same ledger.

- ``batch_tables`` / ``write_tables``: the ten catalog tables (TPC-H-ish
  star schema, ``events``, ``documents``, ``embeddings``) with the column
  names and parquet types of the program's catalog.
- ``backlog_ledger`` / ``write_backlog``: an events-shaped backlog with
  Zipf-skewed ``user_id`` keys and a share of poison records (null ``ts``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# batch tables
# ---------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
WORDS = tuple(
    "a the big small fast slow key value row column table part order customer "
    "line query scan filter join merge sort group agg hash window stream batch "
    "spark data vector".split()
)
COLORS = ("blue", "red", "green", "small", "large", "shiny")
NOUNS = ("anvil", "widget", "ring", "gear", "spring", "bolt")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
EMBED_DIM = 64
#: distinct ``user_id`` keys of the backlog, drawn Zipf(1.2)
BACKLOG_KEYS = 10_000
#: share of backlog records written with a null ``ts``
POISON_SHARE = 0.01


def _ts(us: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"), mask=mask)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def batch_tables(seed: int, orders: int) -> dict[str, pa.Table]:
    """All ten tables for ``orders`` orders (about four lines each); the
    other sizes follow the fixture's ratios (customers = orders/10, ...)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = orders // 10, max(10, orders // 150), orders // 8
    n_events, n_docs, n_vecs = orders * 2 // 3, 300, 300
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    o_date = EPOCH_1995 + rng.integers(0, 2404, orders) * DAY_US  # to 2001-08
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
            "o_totalprice": _money(rng, 1000, 500000, orders),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, orders)],
        }
    )
    lines = rng.integers(1, 8, orders)
    l_order = np.repeat(np.arange(orders, dtype=np.int64), lines)
    n_li = len(l_order)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(np.repeat(o_date, lines) + rng.integers(1, 122, n_li) * DAY_US),
        }
    )
    ev_ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, 150, n_events),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50, n_events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    emb = rng.normal(0.0, 0.12, (n_vecs, EMBED_DIM)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents; every tenth one is a near-copy (one word
    changed) of an earlier one, so the MinHash query has pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 90)))]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, 5, n)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": rng.integers(40, 600, n),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# stream inputs
# ---------------------------------------------------------------------------


@dataclass
class Ledger:
    """What the generator produced, one entry per record written.

    ``stamp_us`` is the creation stamp in µs (for poison records, the stamp
    the record would have carried; the file holds null)."""

    event_id: np.ndarray
    user_id: np.ndarray
    stamp_us: np.ndarray
    poison: np.ndarray


def _events_table(event_id, stamp_us, user_id, poison, event_type, value) -> pa.Table:
    return pa.table(
        {
            "event_id": event_id,
            "ts": _ts(stamp_us, mask=poison),
            "user_id": user_id,
            "event_type": event_type,
            "value": value,
            "props": pa.array([f'{{"k": {k % 100}}}' for k in event_id.tolist()]),
        }
    )


def backlog_ledger(seed: int, files: int, per_file: int) -> tuple[Ledger, list[pa.Table]]:
    """A backlog of ``files`` events files written before the stream starts.

    Stamps are historical (a millisecond apart with a random µs part, so
    the millisecond truncation in the payload is exercised)."""
    rng = np.random.default_rng([seed, 2])
    n = files * per_file
    event_id = np.arange(n, dtype=np.int64)
    stamp_us = EPOCH_2024 + event_id * 1000 + rng.integers(0, 1000, n)
    user_id = ((rng.zipf(1.2, n) - 1) % BACKLOG_KEYS).astype(np.int64)
    poison = rng.random(n) < POISON_SHARE
    event_type = np.array(EVENT_TYPES)[rng.integers(0, 5, n)]
    value = np.round(rng.exponential(50, n), 2)
    columns = (event_id, stamp_us, user_id, poison, event_type, value)
    tables = [_events_table(*(c[f * per_file : (f + 1) * per_file] for c in columns)) for f in range(files)]
    return Ledger(event_id, user_id, stamp_us, poison), tables


def write_backlog(tables: list[pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for f, table in enumerate(tables):
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))
