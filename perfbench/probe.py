"""Measurement plumbing: spans, process-tree memory, Spark's event log,
and stopping every process the benchmark started.

Spans are recorded from the benchmark's own code around each call into
the repo's public functions; nothing inside the program is instrumented.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- spans ------------------------------------------------------------------

class Tracer:
    """In-memory span recorder.  A span's layer is the part of its name
    before the first dot; ``op`` identifies the timed operation (or setup
    step) the span belongs to and is inherited from the parent."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans) + len(self._stack), "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op"),
               "start": time.perf_counter(), "end": None}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def self_times(self, ops: set) -> dict[str, float]:
        """Summed self time per layer over the spans of ``ops``: each
        span's duration minus the part its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops:
                out[s["name"].split(".")[0]] += (
                    s["end"] - s["start"] - child[s["id"]])
        return dict(out)

    def dump(self, path: Path, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in sorted(self.spans, key=lambda s: s["start"])]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": spans, **extra}, indent=1))


# -- process tree -----------------------------------------------------------

def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (JVM, Python daemon, workers)."""
    kids = defaultdict(list)
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(entry.name))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and its descendants, sampled on a
    background thread every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self._interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    started under this one has exited (SIGKILL after ``timeout``)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


# -- Spark event log --------------------------------------------------------

EVENT_LOG_CONF = ("spark.eventLog.enabled true\n"
                  "spark.eventLog.compress false\n"
                  "spark.eventLog.dir file://{dir}\n")


def spark_metrics(log_dir: Path, groups: set[str]) -> dict[str, float]:
    """Per-operation means of Spark's own counters over the jobs whose
    job group is in ``groups``, from the application's event log."""
    # Spark writes each application's log as a directory of rolled
    # ``events_<n>_<app>`` files.
    files = sorted(log_dir.rglob("events_*"),
                   key=lambda p: int(p.name.split("_")[1]))
    stage_group: dict[int, str] = {}
    stages_done: set[int] = set()
    jobs = 0
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group in groups:
                        jobs += 1
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    stages_done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    tasks = [t for t in tasks if t["Stage ID"] in stage_group]
    n_ops = max(1, len(groups))
    mb = 1024 * 1024

    def total(get) -> float:
        return sum(get(t.get("Task Metrics") or {}) for t in tasks)

    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in tasks:
        info = t["Task Info"]
        by_stage[t["Stage ID"]].append(
            (info["Finish Time"] - info["Launch Time"]) / 1000.0)
    heaviest = max(by_stage.values(), key=sum, default=[1.0])
    skew = max(heaviest) / max(statistics.median(heaviest), 1e-3)
    return {
        "spark.jobs": jobs / n_ops,
        "spark.stages": len(stages_done & set(stage_group)) / n_ops,
        "spark.tasks": len(tasks) / n_ops,
        "spark.tasks_failed": sum(t["Task Info"].get("Failed", False)
                                  for t in tasks) / n_ops,
        "spark.executor_run_s": total(
            lambda m: m.get("Executor Run Time", 0)) / 1000.0 / n_ops,
        "spark.executor_cpu_s": total(
            lambda m: m.get("Executor CPU Time", 0)) / 1e9 / n_ops,
        "spark.jvm_gc_s": total(
            lambda m: m.get("JVM GC Time", 0)) / 1000.0 / n_ops,
        "spark.shuffle_write_mb": total(
            lambda m: (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)) / mb / n_ops,
        "spark.shuffle_read_mb": total(
            lambda m: sum((m.get("Shuffle Read Metrics") or {}).get(k, 0)
                          for k in ("Remote Bytes Read",
                                    "Local Bytes Read"))) / mb / n_ops,
        "spark.output_mb": total(
            lambda m: (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)) / mb / n_ops,
        "spark.spill_mb": total(
            lambda m: m.get("Memory Bytes Spilled", 0)
            + m.get("Disk Bytes Spilled", 0)) / mb / n_ops,
        "spark.task_skew": skew,
    }
