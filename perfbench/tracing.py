"""Spans, process probes and Spark event-log metrics for one benchmark run.

Everything here measures from outside the engine: spans wrap calls the
benchmark makes into the public functions of ``crm_etl_pipeline_spark``,
the RSS sampler reads ``/proc`` for the JVM and any Python workers
it forks, and the Spark runtime metrics come from the event log the traced
run enables through its launch config (``conf/traced.conf``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out at
    the end of the run. Spans nest through a stack, so the benchmark's
    single client thread gives each span exactly one parent."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the part covered by child spans; children run
        one after another on the client thread, so they never overlap."""
        return span["dur_s"] - sum(c["dur_s"] for c in self.children(span["id"]))

    def write(self, path: str) -> None:
        for s in self.spans:
            s["self_s"] = self.self_time(s)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # field 4 is the ppid; comm (field 2) may contain spaces
                parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0  # exited between listing and reading


class RssSampler:
    """Background sampler of the summed resident memory of every process
    this one started: the Spark JVM and any Python workers it forks."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(_rss(pid) for pid in _descendants(os.getpid())))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    info = ev["Task Info"]
    return {
        "launch_s": info["Launch Time"] / 1000.0,
        "stage": ev["Stage ID"],
        "failed": bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
        "executor_run_s": m.get("Executor Run Time", 0) / 1000.0,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "jvm_gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "scan_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        "spill_disk_mb": m.get("Disk Bytes Spilled", 0) / MB,
    }


SPARK_SUMS = (
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "scan_mb",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_disk_mb",
)


def read_event_log(path: str) -> tuple[list[dict], dict[int, str]]:
    """Task rows and the job group of each stage from one event log."""
    tasks, stage_group = [], {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task_row(ev))
    return tasks, stage_group


def spark_metrics(path: str, call_spans: list[dict]) -> dict[str, dict]:
    """Sum task metrics per call span. A task belongs to the span whose
    job group its stage carries; jobs started on another thread (the
    foreachBatch callbacks of a streaming query) carry none and are
    placed by launch time instead."""
    tasks, stage_group = read_event_log(path)
    by_group = {s["job_group"]: s for s in call_spans}
    out: dict[str, dict] = {
        s["job_group"]: {"tasks": 0, "failed_tasks": 0, "stages": set(), **dict.fromkeys(SPARK_SUMS, 0.0)}
        for s in call_spans
    }
    for t in tasks:
        span = by_group.get(stage_group.get(t["stage"], ""))
        if span is None:
            span = next((s for s in call_spans if s["start"] <= t["launch_s"] <= s["end"]), None)
        if span is None:
            continue  # setup, table scans or the correctness pass
        acc = out[span["job_group"]]
        acc["tasks"] += 1
        acc["failed_tasks"] += t["failed"]
        acc["stages"].add(t["stage"])
        for k in SPARK_SUMS:
            acc[k] += t[k]
    for acc in out.values():
        acc["stages"] = len(acc["stages"])
    return out
