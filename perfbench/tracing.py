"""Spans around the benchmark's calls into the program, and a process-tree
memory sampler.

A span records its name, parent, start and end. With job-group tagging
on, the span id becomes the Spark job group for the span's duration, so
the event log charges each job to the innermost open span. Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass

SAMPLE_INTERVAL_S = 0.5


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    t0: float
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; when ``tag_jobs`` is set, also tags Spark jobs.

    Job groups are thread-local in Spark, so spans must be opened on the
    thread that fires the jobs (the benchmark's single driver thread)."""

    def __init__(self, tag_jobs: bool):
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.aliases: dict[str, str] = {}  # foreign job group -> span id

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, span_id: str | None) -> None:
        if self.tag_jobs and self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", span_id)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            f"pb{len(self.spans)}",
            name,
            parent.span_id if parent else None,
            time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.span_id)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.span_id if parent else None)

    def alias(self, group: str, span: Span) -> None:
        """Charge jobs run under a job group the program sets itself (a
        streaming query sets its run id) to ``span``."""
        self.aliases[group] = span.span_id

    def subtree(self, span: Span) -> set[str]:
        """Ids of ``span`` and all its descendants, plus their aliases."""
        ids = {span.span_id}
        for s in self.spans:  # parents precede children
            if s.parent in ids:
                ids.add(s.span_id)
        return ids | {g for g, sid in self.aliases.items() if sid in ids}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id and s.name == name]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces or parens: fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    evenly among the processes mapping it. Forked Python workers share
    most of their pages with the daemon they were forked from, so
    summing plain RSS over the tree would count those pages once per
    worker."""
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root_pid: int) -> int:
    """PSS summed over ``root_pid`` and its descendants — the driver
    Python, the JVM it launched and the Python workers."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue  # exited while being sampled
    return total


class MemorySampler:
    """Background thread sampling :func:`tree_memory_bytes` every
    ``SAMPLE_INTERVAL_S``; ``peak`` covers the samples since the last reset."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            mem = tree_memory_bytes(self.root_pid)
            with self._lock:
                self.peak = max(self.peak, mem)
            self._stop.wait(SAMPLE_INTERVAL_S)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        with self._lock:
            return self.peak
