"""The workloads. Each one sets up once from a cold start, checks the
program's output against a computation made without it, warms up, measures
whole passes for at least ``seconds`` seconds and returns a ``Result``.

Every end-to-end metric means the same thing on every workload:

- ``setup_s``: CPU time of the set-up, from the launch of the Spark JVM
  by ``get_spark`` to the end of the workload's first loads or first
  stream.
- ``pass_cpu_s``: median CPU time of one pass over the workload's fixed
  unit of work (the ten queries / one drain of the backlog).
- ``peak_rss_mb``: peak resident memory of this process and the Spark JVM.

CPU time is user plus system time of this process and the Spark JVM. Wall
times of set-ups and passes are printed too, but they are not declared
metrics: on a shared host they move with the neighbours' load (see the
README).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import check
import gen
from tracing import Tracer, cpu_seconds, job_counts, job_ids, median, peak_rss_mb, progress_metrics

from kinesis_sample_spark import catalog
from kinesis_sample_spark.queries import load_registry
from kinesis_sample_spark.session import get_spark, release_checkpoints
from kinesis_sample_spark.sources.files import replay_events_stream
from kinesis_sample_spark.streaming.envelope import envelope_from_events
from kinesis_sample_spark.streaming.pipeline import consume_with_dlq, stop_query

#: the headline query set, fixed here rather than read from the registry's
#: ``bench`` flag
QUERIES = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q14_top_orders_per_customer",
    "q23_tumbling_window",
    "q27_asof_purchase_view",
    "q31_minhash_lsh",
    "q34_cosine_topk",
    "q36_embedding_neardup",
    "q92_waiting_suppliers",
)

BATCH_ORDERS = 4_000  # ≈ 16k lineitem rows

BACKLOG_FILES, BACKLOG_PER_FILE, BACKFILL_FILES_PER_TRIGGER = 16, 5_000, 4


@dataclass
class Result:
    attempted: int
    failed: int
    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)


class Context:
    def __init__(self, work: str, seed: int, seconds: float, tracer: Tracer) -> None:
        self.work, self.seed, self.seconds, self.tracer = work, seed, seconds, tracer
        self.spark = None
        self.setup_took = (0.0, 0.0)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self, prepare) -> None:
        """Build the session, which launches the JVM, and run ``prepare`` on
        it: the cold start a user of the program pays once per process.
        Records its (wall, CPU) seconds."""
        t0, c0 = time.perf_counter(), cpu_seconds()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        prepare(self.spark)
        self.setup_took = (time.perf_counter() - t0, cpu_seconds() - c0)

    def passes(self, one_pass, warmups: int, timed: int) -> list[tuple[float, float]]:
        """Run ``one_pass(i)``, which returns the (wall, CPU) seconds of its
        timed region, for ``warmups`` untimed passes (negative ``i``), then
        for at least ``timed`` passes and ``seconds`` seconds; returns the
        timed ones. The JVM is still compiling hot code on the first pass
        after a cold set-up, so every workload runs its work once, untimed,
        before the timed passes."""
        for i in range(warmups):
            one_pass(-1 - i)
        took: list[tuple[float, float]] = []
        t_start = time.perf_counter()
        while len(took) < timed or time.perf_counter() - t_start < self.seconds:
            took.append(one_pass(len(took)))
        return took

    def result(self, attempted: int, failed: int, passes: list[tuple[float, float]], layers: dict) -> Result:
        for what, runs in (("set-up", [self.setup_took]), ("passes", passes)):
            print(
                f"[perfbench] {what} {[round(w, 2) for w, _ in runs]} s wall,"
                f" {[round(c, 2) for _, c in runs]} s CPU",
                flush=True,
            )
        e2e = {
            "setup_s": self.setup_took[1],
            "pass_cpu_s": median(c for _, c in passes),
            "peak_rss_mb": peak_rss_mb(),
        }
        layers["session.get_spark_s"] = median(self.tracer.durations("session.get_spark"))
        return Result(attempted, failed, e2e, layers)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# batch_headline
# ---------------------------------------------------------------------------


def batch_headline(ctx: Context) -> Result:
    span, traced = ctx.tracer.span, ctx.tracer.enabled
    tables = ctx.path("tables")
    gen.write_tables(gen.batch_tables(ctx.seed, BATCH_ORDERS), tables)
    registry = load_registry()

    def prepare(spark):
        with span("catalog.load_tables"):
            for name in catalog.TABLES:
                catalog.load_table(spark, tables, name)

    ctx.setup(prepare)
    spark, sc = ctx.spark, ctx.spark.sparkContext

    # Correctness first, outside the timed region: every query's collected
    # result against its DuckDB oracle on the same parquet files.
    con = duckdb.connect()
    for name in catalog.TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{catalog.table_path(tables, name)}'")
    wrong = []
    for q in QUERIES:
        df = registry[q].fn(spark, tables)
        got = check.value_hash([tuple(r) for r in df.collect()], df.columns)
        release_checkpoints(spark)
        cur = con.execute(registry[q].oracle)
        want = check.value_hash(cur.fetchall(), [d[0] for d in cur.description])
        if got != want:
            wrong.append(q)
            print(f"[perfbench] {q}: result {got} != oracle {want}", flush=True)
    con.close()

    counts: dict[str, list[tuple[int, int, int]]] = {q: [] for q in QUERIES}

    def one_pass(i: int) -> tuple[float, float]:
        wall = cpu = 0.0
        for q in QUERIES:
            # jobs are told apart by id, not by setting a job group: a job
            # group on the calling thread doubles this pass's time
            before = job_ids(sc) if traced else set()
            t0, c0 = time.perf_counter(), cpu_seconds()
            with span(f"queries.{q}.build"):
                df = registry[q].fn(spark, tables)
            with span(f"queries.{q}.run"):
                df.write.mode("overwrite").format("noop").save()
            wall, cpu = wall + time.perf_counter() - t0, cpu + cpu_seconds() - c0
            # persisted relations the query left behind (a private handle:
            # Spark has no public count of persistent RDDs)
            left = sc._jsc.getPersistentRDDs().size() if traced else 0
            with span("session.release_checkpoints"):
                release_checkpoints(spark)
            if traced and i >= 0:
                counts[q].append((*job_counts(sc, job_ids(sc) - before), left))
        return wall, cpu

    # The check above was the warm-up. One timed pass: a pass takes 7-16 s
    # of wall time, and a benchmark round of 48 runs has to fit in 3 420 s.
    passes = ctx.passes(one_pass, warmups=0, timed=1)
    layers: dict[str, float] = {"catalog.load_table_s": median(ctx.tracer.durations("catalog.load_tables"))}
    for q in QUERIES:
        layers[f"queries.{q}.build_s"] = median(ctx.tracer.durations(f"queries.{q}.build"))
        layers[f"queries.{q}.run_s"] = median(ctx.tracer.durations(f"queries.{q}.run"))
        for k, name in enumerate(("jobs", "tasks", "released_rdds")):
            layers[f"queries.{q}.{name}"] = median(c[k] for c in counts[q])
    return ctx.result(len(passes) * len(QUERIES), len(passes) * len(wrong), passes, layers)


# ---------------------------------------------------------------------------
# stream_backfill
# ---------------------------------------------------------------------------


def stream_backfill(ctx: Context) -> Result:
    span, traced = ctx.tracer.span, ctx.tracer.enabled
    ledger, files = gen.backlog_ledger(ctx.seed, BACKLOG_FILES, BACKLOG_PER_FILE)
    backlog = ctx.path("backlog")
    gen.write_backlog(files, backlog)
    # one file, for the set-up's first stream
    _, warm_files = gen.backlog_ledger(ctx.seed + 1, 1, BACKLOG_PER_FILE)
    gen.write_backlog(warm_files, ctx.path("warm"))

    def drain(spark, source: str, out: str):
        _fresh(out)
        with span("sources.replay_events_stream"):
            events = replay_events_stream(spark, source, BACKFILL_FILES_PER_TRIGGER)
        with span("streaming.envelope_from_events"):
            env = envelope_from_events(events)
        with span("streaming.consume_with_dlq"):
            query = consume_with_dlq(env, f"{out}/good", f"{out}/dlq", f"{out}/ck")
        with span("streaming.stop_query"):
            stop_query(query, drain=True)
        return query

    ctx.setup(lambda spark: drain(spark, ctx.path("warm"), ctx.path("warm-out")))
    sc = ctx.spark.sparkContext
    progress, dlq_rows = [], []
    attempted = failed = jobs = tasks = 0

    def one_pass(i: int) -> tuple[float, float]:
        nonlocal attempted, failed, jobs, tasks
        out = ctx.path("out")
        t0, c0 = time.perf_counter(), cpu_seconds()
        query = drain(ctx.spark, backlog, out)
        took = time.perf_counter() - t0, cpu_seconds() - c0
        if i < 0:
            return took
        good, dlq = pq.read_table(f"{out}/good"), pq.read_table(f"{out}/dlq")
        bad = check.check_backfill(ledger, good, dlq)
        if bad:
            print(f"[perfbench] drain {i}: {bad} records wrong", flush=True)
        attempted, failed = attempted + len(ledger.event_id), failed + bad
        dlq_rows.append(dlq.num_rows)
        if traced:
            progress.extend(query.recentProgress)
            j, t = job_counts(sc, job_ids(sc, str(query.runId)))
            jobs, tasks = jobs + j, tasks + t
        return took

    passes = ctx.passes(one_pass, warmups=1, timed=2)
    layers = progress_metrics(progress, len(passes), jobs, tasks) if traced else {}
    layers["streaming.dlq_rows"] = median(dlq_rows)
    return ctx.result(attempted, failed, passes, layers)


WORKLOADS = {"batch_headline": batch_headline, "stream_backfill": stream_backfill}
