"""In-memory spans and a process-tree RSS sampler.

Spans are recorded by the benchmark around its calls into the package
(never inside it), kept in memory, and written out once at the end.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    """Spans with name, start, end, parent and trace id; one thread."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "trace": self.spans[parent]["trace"] if parent is not None else len(self.spans),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[sid]
        covered, edge = 0.0, s["start"]
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == sid)
        for start, end in kids:
            start, end = max(start, edge), min(end, s["end"])
            if end > start:
                covered += end - start
                edge = end
        return self.duration(sid) - covered

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s["id"])) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


class NullTracer:
    """Tracing off: spans cost one ``nullcontext``."""

    def span(self, name: str):
        return nullcontext()


def _tree(root: int) -> dict[int, int]:
    """``pid -> parent pid`` for ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = {root: 0}, [root]
    while todo:
        pid = todo.pop()
        for kid in children.get(pid, ()):
            out[kid] = pid
            todo.append(kid)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def descendants() -> list[int]:
    """Live processes started (directly or not) by this one."""
    return [p for p in _tree(os.getpid()) if p != os.getpid()]


RSS_INTERVAL_S = 0.1


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (driver, JVM, Python workers) every ``RSS_INTERVAL_S`` seconds."""

    def __init__(self):
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}  # process name -> kB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            tree = _tree(os.getpid())
            names = {p: _comm(p) for p in tree}
            # a JVM starts a process with posix_spawn, whose child shares
            # the JVM's memory until it execs: counting it would count
            # the JVM twice
            per_pid = {
                p: _rss_kb(p)
                for p, parent in tree.items()
                if not (names.get(parent) == "java" and _exe(p) == _exe(parent))
            }
            kb = sum(per_pid.values())
            if kb > self.peak_kb:
                self.peak_kb = kb
                self.at_peak = {}
                for p, v in per_pid.items():
                    self.at_peak[names[p]] = self.at_peak.get(names[p], 0) + v
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
