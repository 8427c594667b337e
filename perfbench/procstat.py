"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (no psutil).

The tree covers the Python driver, the JVM that ``pyspark`` launches as a
child, and the Python UDF workers the JVM forks — the whole cost of one
local-mode Spark application.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None if the
    process is gone.  Index 0 is field 3 (state) of proc(5)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (``cutime``/``cstime``), so workers that exit mid-window still count."""
    total = 0
    for pid in tree_pids() if pids is None else pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # proc(5) fields 14-17: utime stime cutime cstime
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in tree_pids() if pids is None else pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError):
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Background thread sampling the tree's total RSS; ``peak_mb`` is the
    largest total seen between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self.peak_mb = 0.0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


def _start_time(pid: int) -> int | None:
    """None once the process has ended (gone, or a zombie awaiting reaping)."""
    fields = _stat_fields(pid)
    if fields is None or fields[0] == "Z":
        return None
    return int(fields[19])  # proc(5) field 22: starttime


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every process in ``pids`` has ended; SIGTERM, then SIGKILL,
    whatever is still alive at the halfway point and at the deadline.
    Start times guard against signalling a recycled pid."""
    born = {p: _start_time(p) for p in pids if p != os.getpid()}
    born = {p: t for p, t in born.items() if t is not None}
    deadline = time.monotonic() + timeout_s
    sent = None
    while born:
        born = {p: t for p, t in born.items() if _start_time(p) == t}
        if not born:
            return
        now = time.monotonic()
        sig = signal.SIGKILL if now >= deadline else (
            signal.SIGTERM if now >= deadline - timeout_s / 2 else None
        )
        if sig is not None and sig != sent:
            for p in born:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            sent = sig
        if now >= deadline + 5:
            return
        time.sleep(0.1)
