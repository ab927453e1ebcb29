"""Spans, process-tree memory and the host-steal probe.

Spans are recorded by the benchmark around its own calls into the
package; nothing inside the program is instrumented.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from contextlib import contextmanager

from procs import descendants, proc_table


class Tracer:
    """In-memory span recorder: name, start, end, parent and pass id.

    A disabled tracer records nothing. Spans nest by call structure; a
    span inherits its parent's pass id unless it names its own."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, pass_id=None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": pass_id if pass_id is not None else (parent or {}).get("pass"),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """{span name: summed self time in s}: each span's duration minus
        the part of it that its child spans cover."""
        children: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def host_probe_ms() -> float:
    """Fixed single-threaded md5 chain (about 40 ms on an idle core); its
    wall time moves only with CPU steal or contention."""
    t0 = time.perf_counter()
    h = b"probe"
    for _ in range(100_000):
        h = hashlib.md5(h).digest()
    return (time.perf_counter() - t0) * 1000.0


def _pss_bytes(pid: str) -> int:
    """Proportional set size: pages shared between processes (a forked
    Python worker and its daemon) count once, split among them."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _exe(pid: int):
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree_pss_bytes(root: int) -> int:
    table = proc_table()
    total = 0
    for pid in descendants(root, table) | {root}:
        exe = _exe(pid)
        if pid != root and exe and exe.endswith("/java") and exe == _exe(table[pid][0]):
            # a child the JVM is spawning, before its exec: it shares the
            # JVM's address space, so its Pss would count the JVM twice
            continue
        try:
            total += _pss_bytes(str(pid))
        except OSError:
            continue
    return total


class TreeMemorySampler:
    """Samples the summed proportional memory of this process and all its
    descendants (the JVM and its Python workers) from ``/proc``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        pss = _tree_pss_bytes(os.getpid())
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, pss)

    def take_peak(self) -> int:
        """The peak since the last call; starts a new one."""
        with self._lock:
            peak, self.peak_bytes = self.peak_bytes, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
