"""Host facts and process-tree memory, read from /proc.

A run on a shared host is only comparable when the report says how busy
the host was: the CPU count, the load average, and the busy and steal
shares of all CPUs over the timed region.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time


def cpu_ticks():
    """(busy, idle, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    return busy, v[3] + v[4], v[7] if len(v) > 7 else 0


class HostWindow:
    """CPU shares and load average between ``start()`` and ``stop()``."""

    def start(self):
        self._t0 = cpu_ticks()
        self.load_start = os.getloadavg()[0]

    def stop(self) -> dict:
        b0, i0, s0 = self._t0
        b1, i1, s1 = cpu_ticks()
        total = (b1 - b0) + (i1 - i0) + (s1 - s0) or 1
        return {
            "nproc": os.cpu_count(),
            "load_start": self.load_start,
            "load_end": os.getloadavg()[0],
            "busy_pct": 100.0 * (b1 - b0) / total,
            "steal_pct": 100.0 * (s1 - s0) / total,
        }


def _children_map():
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list:
    """Every living process below ``root_pid``."""
    kids = _children_map()
    found, todo = [], list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, ()))
    return found


def adopt_orphans() -> None:
    """Makes this process the reaper of its descendants' orphans
    (Linux ``PR_SET_CHILD_SUBREAPER``), so that ``end_processes`` can
    wait for a worker whose parent exited before it."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_processes(pids, grace_s: float = 10.0) -> None:
    """Waits until every process in ``pids`` has ended: SIGTERM after
    ``grace_s``, SIGKILL after as long again. Reaps this process's
    ended children."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
        deadline = time.monotonic() + grace_s
        while True:
            _reap()
            pids = [pid for pid in pids if _alive(pid)]
            if not pids or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not pids:
            break
    _reap()


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (the
    driver JVM and the Python workers it forks). Each process counts
    its proportional share (PSS), so the pages forked workers share
    with their parent count once."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's resident memory on a thread; ``peak``
    is the largest sample since ``start()``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def start(self):
        self.peak = tree_rss_bytes(os.getpid())
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        pid = os.getpid()
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, tree_rss_bytes(pid))

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
