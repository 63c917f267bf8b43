"""Host readings from ``/proc``: process trees, resident memory and
CPU steal. ``psutil`` is not a dependency of this repository."""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Dict, List, Set


def _ppids() -> Dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after it
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> Set[int]:
    """``root`` and every process below it."""
    children: Dict[int, List[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(children.get(pid, ()))
    return seen


def pss_bytes(pids: Set[int]) -> int:
    """Summed proportional set size: each resident page shared by n of
    the processes counts 1/n to each, so the pages a forked child still
    shares with its parent are counted once."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited between listing and reading
    return total


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


class PeakRss:
    """Samples the resident memory (``pss_bytes``) of the JVM at
    ``root`` plus its PySpark daemon and workers on a thread while
    active; ``peak_mb`` is the largest sample. Other children of the JVM
    are short-lived helpers, and one forked from the JVM reports the
    JVM's own memory and command line until it execs, so only processes
    running ``pyspark.daemon`` are added to the JVM."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            procs = {p for p in descendants(self.root)
                     if p == self.root or b"pyspark.daemon" in _cmdline(p)}
            self.peak = max(self.peak, pss_bytes(procs))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def cpu_times() -> List[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user nice system
    idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: List[int], after: List[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) > 0 else 0.0


def _running(pids: Set[int]) -> Set[int]:
    alive = set()
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X"):
                    alive.add(pid)
        except OSError:
            pass  # gone
    return alive


def _wait(pids: Set[int], timeout: float) -> Set[int]:
    deadline = time.monotonic() + timeout
    while (alive := _running(pids)) and time.monotonic() < deadline:
        time.sleep(0.05)
    return alive


def wait_gone(pids: Set[int], timeout: float) -> Set[int]:
    """Wait up to ``timeout`` for ``pids`` to exit, SIGKILL whatever is
    left, and wait as long again. Returns the pids still running."""
    alive = _wait(pids, timeout)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return _wait(alive, timeout)
