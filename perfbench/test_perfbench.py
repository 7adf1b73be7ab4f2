"""Tests of the benchmark's own parts: the generators are deterministic, and
every checker rejects a planted fault. No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


def _files_bytes(tmp_path, tables) -> dict[str, bytes]:
    gen.write_tables(tables, str(tmp_path))
    return {p.name: p.read_bytes() for p in sorted(tmp_path.iterdir())}


def test_batch_tables_deterministic(tmp_path):
    a = _files_bytes(tmp_path / "a", gen.batch_tables(7, 2_000))
    b = _files_bytes(tmp_path / "b", gen.batch_tables(7, 2_000))
    c = _files_bytes(tmp_path / "c", gen.batch_tables(8, 2_000))
    assert a == b
    assert sorted(a) == sorted(f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_stream_generators_deterministic():
    la, fa = gen.backlog_ledger(3, 4, 500)
    lb, fb = gen.backlog_ledger(3, 4, 500)
    assert all(x.equals(y) for x, y in zip(fa, fb))
    for field in ("event_id", "user_id", "stamp_us", "poison"):
        assert np.array_equal(getattr(la, field), getattr(lb, field))
    assert 0 < la.poison.sum() < len(la.poison) * 0.03


# --- planted faults -------------------------------------------------------


def _backfill_outputs(ledger):
    ok, bad = ~ledger.poison, ledger.poison
    good = pa.table({
        "sequenceNumber": [str(e) for e in ledger.event_id[ok]],
        "partitionKey": [f"partitionKey-{k}" for k in ledger.user_id[ok]],
        "event_ts": pa.array(check.ms(ledger.stamp_us[ok]).astype("datetime64[us]")),
    })
    dlq = pa.table({
        "sequenceNumber": [str(e) for e in ledger.event_id[bad]],
        "dlq_reason": ["null:event_ts"] * int(bad.sum()),
    })
    return good, dlq


def _replace(table, name, values):
    return table.set_column(table.column_names.index(name), name, values)


def test_backfill_checker_rejects_planted_faults():
    ledger, _ = gen.backlog_ledger(5, 3, 400)
    good, dlq = _backfill_outputs(ledger)
    assert check.check_backfill(ledger, good, dlq) == 0
    assert check.check_backfill(ledger, good.slice(1), dlq) == 1  # dropped
    assert check.check_backfill(ledger, pa.concat_tables([good, good.slice(0, 1)]), dlq) == 1  # duplicated
    ts = good.column("event_ts").to_numpy().copy()
    ts[3] += np.timedelta64(1, "ms")  # stamp shifted
    assert check.check_backfill(ledger, _replace(good, "event_ts", pa.array(ts)), dlq) == 1
    keys = good.column("partitionKey").to_pylist()
    keys[5] = "partitionKey-x"  # key changed
    assert check.check_backfill(ledger, _replace(good, "partitionKey", pa.array(keys)), dlq) == 1
    reasons = ["null:event_ts"] * (dlq.num_rows - 1) + ["other"]
    assert check.check_backfill(ledger, good, _replace(dlq, "dlq_reason", pa.array(reasons))) == 1
    assert check.check_backfill(ledger, good, dlq.slice(1)) == 1  # poison record lost


def test_value_hash_rejects_changed_value():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 1.25)]
    cols = ["k", "s", "x"]
    base = check.value_hash(rows, cols)
    assert check.value_hash(list(reversed(rows)), cols) == base  # order-insensitive
    assert check.value_hash([(r[2], r[0], r[1]) for r in rows], ["x", "k", "s"]) == base
    assert check.value_hash([rows[0], rows[1], (3, "c", 1.2500001)], cols) != base
    assert check.value_hash(rows + [rows[0]], cols) != base
    assert check.value_hash(rows[:2], cols) != base


def test_benchmark_json_bounds():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert "setup_s" in [m["name"] for m in bench["end_to_end"]]
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
