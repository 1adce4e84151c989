"""CPU and memory of this process tree, and of the host, from ``/proc``.

The process tree is this Python driver plus every descendant: the Spark
JVM and the Python workers it forks. Each process is charged its own
user+system time plus that of its reaped children, so CPU of a worker
that has exited stays counted in its parent.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we looked
        return None
    return raw[raw.rindex(")") + 2:].split()


def tree_sample(root: int | None = None) -> tuple[float, float]:
    """(CPU seconds, resident MB) summed over ``root`` and its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(name)
        if f is None:
            continue
        pid = int(name)
        fields[pid] = f
        children.setdefault(int(f[1]), []).append(pid)
    cpu = rss = 0.0
    todo = [root]
    while todo:
        pid = todo.pop()
        f = fields.get(pid)
        if f is not None:
            # after the comm: state ppid ... utime(11) stime(12)
            # cutime(13) cstime(14) ... rss(21) in pages
            cpu += sum(int(x) for x in f[11:15]) / _TICK
            rss += int(f[21]) * _PAGE / 2**20
        todo.extend(children.get(pid, ()))
    return cpu, rss


def tree_cpu() -> float:
    return tree_sample()[0]


def host_cpu() -> tuple[float, float]:
    """(busy seconds over all CPUs, steal seconds) since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = vals[:8]
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def unstolen(wall_s: float, h0: tuple[float, float], h1: tuple[float, float]) -> float:
    """``wall_s`` net of hypervisor steal between two ``host_cpu()`` samples.

    Steal accrues only on vCPUs that want to run. Of the vCPU time the
    guest wanted in the interval (busy + steal), the share ``steal /
    (busy + steal)`` was taken by the hypervisor, and the guest's work
    was delayed by that share of the wall time. On a host without steal
    this returns ``wall_s`` unchanged."""
    busy, steal = h1[0] - h0[0], h1[1] - h0[1]
    wanted = busy + steal
    return wall_s * (1.0 - steal / wanted) if wanted > 0 else wall_s


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class RssPeak:
    """Samples the tree's resident memory on a thread; ``peak_mb`` is the max."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_sample()[1])
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> RssPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
