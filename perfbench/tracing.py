"""Spans and counters recorded in the benchmark's own code.

A ``Tracer`` keeps every span in memory (name, start, end, parent) and
writes them out once, when the run ends. Untraced runs use a disabled
tracer whose ``span`` does nothing, so end-to-end figures carry no
tracing cost. Spark-side counts come from public interfaces: the status
tracker (jobs and tasks by job id or job group) and
``StreamingQueryProgress``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def job_ids(sc, group: str | None = None) -> set[int]:
    """Ids of the jobs Spark still tracks in job group ``group`` (None: the
    jobs outside any group)."""
    return set(sc.statusTracker().getJobIdsForGroup(group))


def job_counts(sc, jobs: set[int]) -> tuple[int, int]:
    """(jobs, tasks) of the given jobs."""
    tracker = sc.statusTracker()
    tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            st = tracker.getStageInfo(stage)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def process_tree() -> list[int]:
    """This process and every running process it started, recursively."""
    found, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        found.append(pid)
        for children in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(children) as f:
                    todo.extend(int(c) for c in f.read().split())
            except FileNotFoundError:
                continue
    return found


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus every process it
    started (the Spark JVM), in MiB."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                # zombies and kernel threads have no VmHWM line
                total_kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except FileNotFoundError:
            continue
    return total_kb / 1024.0


def cpu_seconds() -> float:
    """CPU time (user plus system) used so far by this process and every
    process it started that is still running (the Spark JVM), each with
    the children it has waited for."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime, stime, cutime, cstime
    return ticks / os.sysconf("SC_CLK_TCK")


#: per-batch progress durations reported as per-layer metrics
PROGRESS_DURATIONS = {
    "sources.latest_offset_ms": "latestOffset",
    "sources.get_batch_ms": "getBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.add_batch_ms": "addBatch",
    "streaming.trigger_ms": "triggerExecution",
}


def progress_metrics(progress: list, queries: int, jobs: int, tasks: int) -> dict[str, float]:
    """Per-batch figures from the progress reports of ``queries`` runs of
    a streaming query that together ran ``jobs`` jobs of ``tasks`` tasks.
    Medians are over batches that read input rows; jobs and tasks are
    divided by all batches."""
    data = [p for p in progress if p.numInputRows > 0]
    out = {k: median(p.durationMs.get(v, 0) for p in data) for k, v in PROGRESS_DURATIONS.items()}
    out["streaming.batches"] = len(progress) / queries if queries else 0.0
    out["streaming.rows_per_batch"] = median(p.numInputRows for p in data)
    out["streaming.jobs_per_batch"] = jobs / len(progress) if progress else 0.0
    out["streaming.tasks_per_batch"] = tasks / len(progress) if progress else 0.0
    return out
