"""Measurement helpers: spans, a /proc RSS sampler and small statistics.

Spans are recorded by the benchmark around its calls into each layer of
``spider_spark`` (nothing inside the program is instrumented). A span has a
name, its layer, start and end (``time.perf_counter`` seconds), the index of
its parent span and the run id. They stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the time its direct children cover, summed
        per layer (children nest strictly, so their durations add)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = (s["end"] - s["start"]) - child_time[i]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat_fields(int(entry))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(entry))
    return kids


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def session_members(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat_fields(int(entry))
            # state, ppid, pgrp, session
            if st is not None and st[0] != "Z" and int(st[3]) == sid:
                out.append(int(entry))
    return out


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    init, so ``reap_children`` waits for them too (Linux only)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap_children(timeout: float = 30.0) -> None:
    """Wait until this process has no children left, reaping each one.
    Children still running after ``timeout`` seconds get SIGTERM, and
    SIGKILL five seconds later."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        kids = _children_map().get(me, [])
        if not kids:
            return
        late = time.monotonic() - deadline
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue
                if late > 5:
                    os.kill(pid, signal.SIGKILL)
                elif late > 0:
                    os.kill(pid, signal.SIGTERM)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """RSS of ``root_pid`` and all its descendants, in MiB."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Samples the RSS of one process tree every ``interval`` seconds on a
    daemon thread and keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling (idempotent); returns the peak."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
        return self.peak_mb


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against 0, 1, 2, ... (0 below 2 points)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; (0, 0) when it does not exist."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files
