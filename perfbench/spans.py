"""Measurement helpers: spans, Spark job counts, file-system write counts and
peak memory. Everything here observes the program from outside: spans wrap
calls into the program's public functions, job counts come from Spark's status
tracker, writes from the table directories before and after an op."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import resource
import time


class Tracer:
    """In-memory span recorder (name, start, end, parent, op id); written out
    once, at the end of a traced run. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str, op) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["op"] == op)

    def self_time(self, name: str, op) -> float:
        """Summed duration of ``name`` spans in ``op`` minus their direct children."""
        out = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] != name or s["op"] != op:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            out += s["end"] - s["start"] - kids
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class JobCounter:
    """Spark jobs and tasks per op, from a job group set around the op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextlib.contextmanager
    def group(self):
        self._n += 1
        gid = f"bench-op-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, gid: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(jobs), tasks


def tree_state(*dirs: str) -> dict:
    """(path -> (size, mtime_ns, inode)) for every file under ``dirs``."""
    out = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p[len(d):] + "@" + d] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """Files and bytes that are new or rewritten between two ``tree_state``s."""
    files = [k for k, v in after.items() if before.get(k) != v]
    return len(files), sum(after[k][0] for k in files)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the Spark JVM (VmHWM) plus the Python driver."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
