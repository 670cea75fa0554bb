"""Memory of this process and every descendant (the driver JVM and its
Python workers), read from ``/proc``.

Each process counts its proportional set size (PSS): Spark forks Python
workers from a daemon, and summing plain RSS would count every page they
share with it once per worker."""

from __future__ import annotations

import os
import threading
import time
from typing import Callable, Dict, List, NamedTuple

def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> List[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by the process tree."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are stat fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended while we read
            continue
    return total


class PeakRss:
    """Samples the tree's summed PSS on a daemon thread; ``peak_mb`` is
    the largest sum seen.  Use as a context manager."""

    def __init__(self, root: int = 0, interval_s: float = 0.5):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak = max(self.peak, tree_pss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def machine_jiffies() -> tuple:
    """``(busy, steal)`` clock ticks of all CPUs since boot, from
    ``/proc/stat``: busy is user + nice + system + irq + softirq, steal the
    time the hypervisor ran something else while a CPU wanted to run."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


class Cost(NamedTuple):
    wall: float  # seconds
    cpu: float  # user + system seconds of the process tree
    unstolen: float  # wall less the share of it the hypervisor stole


def measure(fn: Callable):
    """``(fn(), Cost)``.  CPU is the whole process tree's (driver JVM,
    Python workers, this process).  On a shared VM, wall time includes
    time the hypervisor gave to other guests while this one's CPUs wanted
    to run; ``unstolen`` scales wall by the share of the machine's
    wanted CPU time it did get (busy / (busy + steal) over the call)."""
    pid = os.getpid()
    m0, c0, t0 = machine_jiffies(), tree_cpu_s(pid), time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    cpu, m1 = tree_cpu_s(pid) - c0, machine_jiffies()
    busy, steal = m1[0] - m0[0], m1[1] - m0[1]
    got = busy / (busy + steal) if busy + steal else 1.0
    return out, Cost(wall, cpu, wall * got)


def load1m() -> float:
    return os.getloadavg()[0]
