"""In-memory spans recorded by the benchmark around each call into a layer
of ``cerebro_spark``, plus peak-RSS reading from ``/proc``.

A span is (name, start, end, parent, request id).  Spans are kept in a list
and written out once, when the run ends.  With tracing off, ``span`` still
returns a context manager but records nothing, so the timed code path is the
same in both modes apart from the append.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if req is None and parent is not None:
            req = parent["req"]
        rec = {"id": sid, "name": name, "parent": parent and parent["id"],
               "req": req, "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": with_self_time(self.spans)}, fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` with ``self`` = duration minus the part of the
    span's interval that its child spans cover (overlapping children are
    counted once; children are clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            kids.setdefault(p["id"], []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"]))
            )
    out = []
    for s in spans:
        dur = s["end"] - s["start"]
        out.append({**s, "self": dur - _covered(kids.get(s["id"], []))})
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of ``/proc/<pid>/stat`` after the command name."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                    out[int(entry)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    return out


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid`` (from each process's ``stat``)."""
    return [p for p, f in _proc_stats().items() if int(f[1]) == pid]


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak RSS (VmHWM) of this Python process plus its direct children (the
    JVM that ``pyspark`` launches), in MiB."""
    pid = pid or os.getpid()
    kb = _status_kb(pid, "VmHWM")
    kb += sum(_status_kb(c, "VmHWM") for c in child_pids(pid))
    return kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds, user plus system, of ``pid`` (this process by default)
    and every process under it, live or reaped: the JVM and its Python
    workers.  Time the hypervisor gave to other machines is not in it."""
    stats = _proc_stats()
    kids: dict[int, list[int]] = {}
    for p, f in stats.items():
        kids.setdefault(int(f[1]), []).append(p)
    total, todo = 0, [pid or os.getpid()]
    while todo:
        p = todo.pop()
        f = stats.get(p)
        if f is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in f[11:15])
        todo.extend(kids.get(p, []))
    return total / _TICK
