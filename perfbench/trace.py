"""Spans around the benchmark's calls into each layer, and a peak-RSS
sampler for the Spark process tree.

Spans are kept in memory and written once, when the run ends. With
tracing on, each span also labels the Spark jobs it submits
(``perfbench:<name>``) so the event log attributes them to the layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

RSS_PERIOD_S = 0.25  # peak-RSS sampling period


class Tracer:
    def __init__(self, spark, enabled: bool):
        self._sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, label_jobs: bool = True):
        """Time one call into a layer. ``label_jobs`` sets the Spark job
        description for the span's duration; leave it off around calls
        that label their own jobs (``NearDupPipeline.run``)."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        rec = {"name": name, "op": op, "parent": parent, "start": time.time()}
        self.spans.append(rec)
        if label_jobs:
            self._sc.setJobDescription(f"perfbench:{name}")
        try:
            yield
        finally:
            if label_jobs:
                self._sc.setJobDescription(None)
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root_pid: int) -> int:
    kids, total, todo = _children(), 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


class PeakRss:
    """Samples the resident memory of a process tree (the driver JVM and
    the Python workers it forks) every ``RSS_PERIOD_S`` seconds."""

    def __init__(self, root_pid: int):
        self.root_pid, self.peak = root_pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
