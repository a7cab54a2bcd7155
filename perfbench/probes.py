"""Host and process probes read from /proc and the file system, and
the engine-route probe."""

from __future__ import annotations

import os
import threading
from typing import Dict, List


def cpu_jiffies() -> tuple:
    """Host-wide (busy, total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = f
    busy = user + nice + system + irq + softirq
    return busy, busy + idle + iowait + steal, steal


HZ = os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """Host busy and steal CPU seconds over a ``with`` block. Busy time
    is the CPU the VM actually ran (this benchmark's driver, JVM and
    workers on an otherwise idle VM); steal is time the hypervisor
    gave the VM's CPUs to other guests, which inflates wall time but
    not busy time."""

    def __enter__(self) -> "CpuMeter":
        self._j0 = cpu_jiffies()
        return self

    def __exit__(self, *exc) -> None:
        j1 = cpu_jiffies()
        self.busy_s = (j1[0] - self._j0[0]) / HZ
        self.steal_s = (j1[2] - self._j0[2]) / HZ
        self.total_s = (j1[1] - self._j0[1]) / HZ


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssMeter:
    """Peak of the summed resident size of ``pid`` and its descendants
    (this Python driver, the Spark JVM it launched and the JVM's Python
    workers), sampled every ``interval`` seconds from a daemon thread.
    A process counts from its second sample on: a child caught between
    fork and exec reports its parent's whole resident set."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid = pid
        self.peak_kb = 0
        self._seen: set = set()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,),
                                        daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        pids = set(descendants(self.pid))
        kb = sum(_status_kb(p, "VmRSS") for p in pids & self._seen)
        self._seen = pids | {self.pid}
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self, interval: float) -> None:
        while not self._done.wait(interval):
            self._sample()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._done.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


def du_bytes(path: str) -> int:
    """Bytes of regular files under ``path``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


_route = threading.local()


def install_route_probe() -> None:
    """Wrap ``Index._route_wand`` (the step of ``Index.search`` that
    sends a query to block-max WAND or returns None for the exhaustive
    executor) so each thread can tell whether its last search routed.
    Without that method no query is reported as routed."""
    from ex_elasticlunr_spark import Index

    orig = getattr(Index, "_route_wand", None)
    if orig is None or getattr(orig, "_perfbench", False):
        return

    def probe(self, *args, **kw):
        out = orig(self, *args, **kw)
        _route.hit = getattr(_route, "hit", False) or out is not None
        return out

    probe._perfbench = True
    Index._route_wand = probe


def took_route() -> bool:
    """Whether a search on this thread routed to WAND since the last
    call; clears the flag."""
    hit = getattr(_route, "hit", False)
    _route.hit = False
    return hit
