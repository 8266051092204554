"""Process-tree bookkeeping from ``/proc`` (psutil is not available):
peak resident memory of this process, its JVM and the Python workers,
and a shutdown that waits until every one of them has exited (each
cold set-up must start after the previous JVM and its workers are
gone, or they overlap it)."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the RSS of this process's tree every ``interval`` seconds
    while active; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            state = f.read()
    except OSError:
        return False
    return state[state.rindex(b")") + 2 : state.rindex(b")") + 3] != b"Z"


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL survivors after ``timeout``.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if not pids:
            return []
        time.sleep(0.1)
    killed = [p for p in pids if _alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in killed) and time.monotonic() < deadline:
        time.sleep(0.1)
    return killed
