"""Output checkers: what the program returned or wrote, against a
computation made without it (a DuckDB oracle's result, hashed the same
way, or the generator's ledger)."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from gen import Ledger


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    """Order-insensitive hash of a result: each row (columns sorted by
    name) is hashed, and the hashes are summed mod 2**128, so a duplicated
    or missing row changes the sum."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for row in rows:
        token = "|".join(_cell(row[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.md5(token.encode()).digest(), "big")) % (1 << 128)
    return f"{len(rows)}:{','.join(sorted(columns))}:{acc:032x}"


def ms(stamp_us: np.ndarray) -> np.ndarray:
    """Creation stamp truncated to milliseconds, in µs — what the payload's
    ``yyyy-MM-dd'T'HH:mm:ss.SSS`` rendering keeps."""
    return stamp_us - stamp_us % 1000


def _bad_emitted(ledger_ids, want, out_ids, got) -> int:
    """Records of the ledger not emitted exactly once with the wanted value
    (``want[i]`` for ``ledger_ids[i]``), plus emitted rows the ledger does
    not expect."""
    expected = dict(zip(ledger_ids.tolist(), want))
    seen: dict[int, int] = {}
    value: dict[int, object] = {}
    for i, v in zip(out_ids.tolist(), got):
        seen[i] = seen.get(i, 0) + 1
        value.setdefault(i, v)
    bad = sum(seen.get(e, 0) != 1 or value.get(e) != v for e, v in expected.items())
    return bad + sum(c for e, c in seen.items() if e not in expected)


def _ids(table) -> np.ndarray:
    return table.column("sequenceNumber").to_numpy(zero_copy_only=False).astype(np.int64)


def check_backfill(ledger: Ledger, good, dlq) -> int:
    """``good`` / ``dlq`` are the two sinks as pyarrow tables. Good rows
    must be exactly the non-poison records, each with its partition key and
    with ``event_ts`` equal to its stamp truncated to ms; DLQ rows exactly
    the poison records, each with reason ``null:event_ts``. Returns the
    number of records that went wrong."""
    ok = ~ledger.poison
    want = [(s, f"partitionKey-{k}") for s, k in zip(ms(ledger.stamp_us[ok]).tolist(), ledger.user_id[ok].tolist())]
    got = list(zip(_us(good.column("event_ts")).tolist(), good.column("partitionKey").to_pylist()))
    poison = ledger.event_id[ledger.poison]
    return _bad_emitted(ledger.event_id[ok], want, _ids(good), got) + _bad_emitted(
        poison, ["null:event_ts"] * len(poison), _ids(dlq), dlq.column("dlq_reason").to_pylist()
    )


def _us(col) -> np.ndarray:
    return pc.cast(col, pa.timestamp("us")).cast(pa.int64()).to_numpy(zero_copy_only=False)
