"""Measurement helpers: spans, peak resident memory and Spark's event log.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory,
  tags every Spark job started inside a span with the span's id, and
  writes all spans to one JSON file at the end.
- ``RssSampler`` polls ``/proc`` for the resident memory of the Spark
  JVM plus every process below it (the Python workers).
- ``read_event_log`` turns Spark's JSON event log into per-span task
  totals, using the job descriptions the tracer set.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans recorded around calls into the engine. Jobs Spark runs inside
    a span carry the description ``<run_id>/<span id>`` so the event log
    can be attributed back to the span."""

    def __init__(self, run_id: str, spark_context):
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(f"{self.run_id}/{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{self.run_id}/{self._stack[-1].id}" if self._stack else None
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # process ended while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


RSS_INTERVAL = 0.05  # seconds between RSS samples
TREE_REFRESH = 20  # samples between re-reads of the process tree


class RssSampler:
    """Background thread sampling the summed RSS of a process tree every
    RSS_INTERVAL seconds; ``take_peak`` returns and resets the peak."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.pids: list[int] = [root_pid]

    def _run(self) -> None:
        tick = 0
        while not self._stop.is_set():
            if tick % TREE_REFRESH == 0:
                self.pids = process_tree(self.root)
            rss = rss_bytes(self.pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            tick += 1
            self._stop.wait(RSS_INTERVAL)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def take_peak(self) -> int:
        rss = rss_bytes(process_tree(self.root))
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak


@dataclass
class TaskTotals:
    failed: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    # stage id -> task durations (s) of stages that read shuffle data
    reduce_durations: dict = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max/median task time over the shuffle-reading stages, worst stage."""
        skews = [
            max(d) / statistics.median(d)
            for d in self.reduce_durations.values()
            if statistics.median(d) > 0
        ]
        return max(skews, default=1.0)


def read_event_log(log_dir: str) -> dict[str, TaskTotals]:
    """Task totals per job description from the event log(s) in ``log_dir``."""
    stage_desc: dict[int, str] = {}
    totals: dict[str, TaskTotals] = defaultdict(TaskTotals)
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names)
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", ()):
                        stage_desc[sid] = desc or ""
                elif kind == "SparkListenerTaskEnd":
                    t = totals[stage_desc.get(ev["Stage ID"], "")]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    if ev["Task End Reason"]["Reason"] != "Success":
                        t.failed += 1
                    t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    t.gc_s += m.get("JVM GC Time", 0) / 1e3
                    t.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    t.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    t.shuffle_read_bytes += read
                    if read:
                        dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                        t.reduce_durations[ev["Stage ID"]].append(dur)
    return totals
