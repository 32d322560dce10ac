"""Measurement plumbing: spans, Spark event-log rollups, table-call
wrappers and a process-tree RSS sampler.

Everything here lives in the benchmark's own files and wraps the
program's public functions from outside; no program file is touched.
Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import threading
import time

_T0 = time.time()


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"perfbench {time.time() - _T0:7.1f}s  {msg}", file=sys.stderr, flush=True)


class Tracer:
    """In-memory spans: (name, trace_id, start, end, parent)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str):
        rec = {"name": name, "trace_id": trace_id, "parent": None,
               "start": time.time(), "end": None}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals (calls that overlap
    on a thread pool count once)."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip]
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:  # a concurrent commit renamed it
                pass
    return total


# -- table-call wrappers ------------------------------------------------------


class TableCalls:
    """Wraps the snapshot-table commit entry points for the duration of
    a ``with`` block, recording (method, table, start, end, bytes) per
    call.  ``bytes`` is the growth of the table's directory across the
    call; each table is written by at most one call at a time."""

    METHODS = (
        ("SnapshotTable", "append"),
        ("SnapshotTable", "append_read"),
        ("SnapshotTable", "overwrite"),
        ("SnapshotTable", "adopt_part"),
        ("MorTable", "commit_delta"),
    )

    def __init__(self) -> None:
        self.calls: list[dict] = []
        self._lock = threading.Lock()

    def _wrap(self, method: str, fn):
        calls, lock = self.calls, self._lock

        @functools.wraps(fn)
        def wrapper(table, *args, **kwargs):
            before = dir_bytes(table.root)
            t0 = time.time()
            try:
                return fn(table, *args, **kwargs)
            finally:
                t1 = time.time()
                rec = {"method": method, "table": os.path.basename(table.root),
                       "start": t0, "end": t1,
                       "bytes": dir_bytes(table.root) - before}
                with lock:
                    calls.append(rec)

        return wrapper

    def __enter__(self):
        from crawler_spark import tables

        self._saved = []
        for cls_name, method in self.METHODS:
            cls = getattr(tables, cls_name)
            orig = cls.__dict__[method]
            self._saved.append((cls, method, orig))
            setattr(cls, method, self._wrap(method, orig))
        return self

    def __exit__(self, *exc):
        for cls, method, orig in self._saved:
            setattr(cls, method, orig)
        return False

    def within(self, start: float, end: float) -> list[dict]:
        return [c for c in self.calls if c["start"] >= start and c["end"] <= end]


# -- Spark event log ------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Per-job rollup of a finished application's event log: submission
    time plus summed task run time, GC, shuffle read+write and spill."""

    def __init__(self, log_dir: str) -> None:
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p) and not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {"submit": ev["Submission Time"] / 1000.0,
                                      "task_s": 0.0, "gc_s": 0.0,
                                      "shuffle_b": 0, "spill_b": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    job["shuffle_b"] += (rd.get("Remote Bytes Read", 0)
                                         + rd.get("Local Bytes Read", 0)
                                         + wr.get("Shuffle Bytes Written", 0))
                    job["spill_b"] += m.get("Disk Bytes Spilled", 0)

    def within(self, windows: list[tuple[float, float]]) -> list[dict]:
        return [j for j in self.jobs.values()
                if any(s <= j["submit"] <= e for s, e in windows)]

    @staticmethod
    def rollup(jobs: list[dict]) -> dict[str, float]:
        mib = 1024.0 * 1024.0
        return {
            "spark.jobs": float(len(jobs)),
            "spark.task_s": sum(j["task_s"] for j in jobs),
            "spark.gc_s": sum(j["gc_s"] for j in jobs),
            "spark.shuffle_mb": sum(j["shuffle_b"] for j in jobs) / mib,
            "spark.spill_mb": sum(j["spill_b"] for j in jobs) / mib,
        }


# -- memory ---------------------------------------------------------------------


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from a side thread via /proc."""

    PERIOD_S = 0.2

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_kb(root: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{d}/status") as f:
                    kb = next((int(l.split()[1]) for l in f if l.startswith("VmRSS:")), 0)
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
            rss[int(d)] = kb
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.PERIOD_S):
            self.peak_kb = max(self.peak_kb, self._tree_kb(me))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- Spark helpers ----------------------------------------------------------------


def noop_write(df) -> None:
    """Force full execution with no driver collect and no output bytes."""
    df.write.format("noop").mode("overwrite").save()


def plan_counts(df) -> tuple[int, int]:
    """(scan, exchange) operator lines of the DataFrame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString().splitlines()
    return (sum("Scan" in l for l in plan), sum("Exchange" in l for l in plan))
