"""Benchmark-side instrumentation: spans around the public calls, a
timing ``SnapshotCatalog``, the process-tree memory sampler and the Spark
event-log aggregates of the traced run.

Nothing here runs inside the engine: every span wraps a call the
benchmark makes, and the event log is a session setting turned on only
with ``--trace 1``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from publicationsretriever_spark.sources.catalog import SnapshotCatalog


class Spans:
    """In-memory span log: (name, start, end, parent). Written out only
    when the run ends."""

    def __init__(self) -> None:
        self.records: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.records.append((name, t0, time.time(), parent))

    def total(self, name: str, parent: str | None = None) -> float:
        """Summed duration of ``name`` spans (only those directly under
        ``parent`` when given)."""
        return sum(
            t1 - t0 for n, t0, t1, p in self.records
            if n == name and (parent is None or p == parent)
        )

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(t0, t1) for n, t0, t1, _ in self.records if n == name]


class TimedCatalog(SnapshotCatalog):
    """``SnapshotCatalog`` that times its three entry points: the round
    write, the manifest commit and the resume load."""

    def __init__(self, root: str):
        super().__init__(root)
        self.write_s = 0.0
        self.commit_s = 0.0
        self.load_s = 0.0
        self._bytes_at_open = self._size()

    def write_round(self, spark, deltas, fulls, prior=None, warm_first=None,
                    compact=False):
        t0 = time.time()
        out = super().write_round(spark, deltas, fulls, prior=prior,
                                  warm_first=warm_first, compact=compact)
        self.write_s += time.time() - t0
        return out

    def finish_commit(self, snap_id, table_meta, round_no, lineage):
        t0 = time.time()
        out = super().finish_commit(snap_id, table_meta, round_no, lineage)
        self.commit_s += time.time() - t0
        return out

    def load(self, spark, snapshot_id=None):
        t0 = time.time()
        out = super().load(spark, snapshot_id)
        self.load_s += time.time() - t0
        return out

    def _size(self) -> int:
        return sum(p.stat().st_size for p in self.root.rglob("*") if p.is_file())

    def bytes_written(self) -> int:
        """Bytes added under the catalog root since it was opened."""
        return self._size() - self._bytes_at_open


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the driver JVM and the Python
    workers it forks)."""
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it (the forked Python workers share
    most of their pages with the worker daemon)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the summed PSS of this process's descendants every
    ``interval`` seconds; ``peak_mb`` is the largest sum seen since the
    last ``reset``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in descendants(me))
            self._peak_kb = max(self._peak_kb, total)
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self._peak_kb = 0

    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark event log (traced run only)
# ---------------------------------------------------------------------------


def read_event_log(log_dir: Path) -> dict:
    """Jobs, stages and tasks of the one application logged in
    ``log_dir`` (times in epoch seconds)."""
    jobs, stages, tasks = [], {}, []
    for path in sorted(log_dir.rglob("events_*")):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = " ".join(
                        r.get("Scope", "") + " " + r.get("Name", "")
                        for r in info.get("RDD Info", [])
                    )
                    stages[info["Stage ID"]] = scopes
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": ti["Launch Time"] / 1000.0,
                        "finish": ti["Finish Time"] / 1000.0,
                        "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _inside(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in windows)


def _covered(intervals: list[tuple[float, float]], a: float, b: float) -> float:
    """Length of [a, b] covered by the union of ``intervals``."""
    spans = sorted((max(s, a), min(e, b)) for s, e in intervals if e > a and s < b)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def event_log_metrics(log: dict, timed: list[tuple[float, float]],
                      rounds: list[tuple[float, float]]) -> dict:
    """Aggregates over the timed part of the run (``timed`` windows) and
    per crawl round (``rounds`` windows; empty when the workload has no
    rounds)."""
    tasks = [t for t in log["tasks"] if _inside(t["launch"], timed)]
    out = {
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / 2**20,
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "plans.rounds.spark_jobs": 0.0,
        "plans.rounds.spark_tasks": 0.0,
        "plans.rounds.executor_idle_share": 0.0,
        "sources.fetch.task_skew": 0.0,
    }
    if not rounds:
        return out
    jobs, ntasks, idle, skew = [], [], [], []
    for a, b in rounds:
        rt = [t for t in log["tasks"] if a <= t["launch"] <= b]
        jobs.append(sum(1 for s in log["jobs"] if a <= s <= b))
        ntasks.append(len(rt))
        busy = _covered([(t["launch"], t["finish"]) for t in rt], a, b)
        idle.append(1.0 - busy / (b - a))
        # the fetch stage is the round's heaviest MapInPandas stage (the
        # sketch partials are the only other one, and are tiny)
        by_stage: dict[int, list[float]] = {}
        for t in rt:
            if "MapInPandas" in log["stages"].get(t["stage"], ""):
                by_stage.setdefault(t["stage"], []).append(t["run_s"])
        if by_stage:
            runs = max(by_stage.values(), key=sum)
            med = statistics.median(runs)
            skew.append(max(runs) / med if med > 0 else 1.0)
    out["plans.rounds.spark_jobs"] = statistics.mean(jobs)
    out["plans.rounds.spark_tasks"] = statistics.mean(ntasks)
    out["plans.rounds.executor_idle_share"] = statistics.mean(idle)
    out["sources.fetch.task_skew"] = statistics.mean(skew) if skew else 0.0
    return out
