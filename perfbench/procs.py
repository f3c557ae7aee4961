"""Process-tree helpers read from ``/proc``: RSS sampling and reaping.

The driver's Python process launches the JVM, and the JVM forks the Python
workers, so the memory a user pays for is the resident memory of the whole
tree rooted at this process. ``RssSampler`` polls it on a thread and keeps
the peak.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # Field 4 (ppid) follows the parenthesised command, which may hold spaces.
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (not ``root`` itself)."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, resident bytes) for ``root`` and its
    descendants. Resident bytes are PSS: a page shared by n processes counts
    1/n in each, so the sum counts it once. Plain RSS would count the pages
    that forked Python workers share with their parent once per worker, and
    a JVM's whole heap twice while it forks a helper process."""
    out = {}
    for pid in [root, *descendants(root)]:
        try:
            rss = _pss_bytes(pid)
            with open(f"/proc/{pid}/comm") as fh:
                out[pid] = (fh.read().strip(), rss)
        except OSError:
            continue  # exited meanwhile
    return out


class RssSampler:
    """Peak RSS of this process tree, sampled every ``interval`` seconds
    between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[int, tuple[str, int]] = {}  # the tree at the peak
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def _sample(self) -> None:
        tree = tree_rss(os.getpid())
        total = sum(rss for _, rss in tree.values())
        if total > self.peak:
            self.peak, self.at_peak = total, tree

    def start(self) -> None:
        self.peak, self.at_peak = 0, {}
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        return self.peak


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor has stolen from this machine so far
    (summed over its CPUs): time other guests ran on our virtual CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"  # a zombie has ended


def reap(pids: list[int], timeout: float = 30.0) -> list[int]:
    """Wait until every process in ``pids`` has ended; SIGKILL what is left
    after ``timeout``. Pass the pids in before stopping their parent: once
    it exits they are re-parented and no longer descendants of this process.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    killed = [p for p in pids if _alive(p)]
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass  # ended meanwhile
    while any(_alive(p) for p in killed):
        time.sleep(0.1)
    return killed
