"""Host readings taken from /proc: CPU seconds by kind, and the CPU time
and resident memory of this process and everything it started."""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_seconds() -> dict[str, float]:
    """Host-wide busy and steal CPU seconds since boot (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return {
        "busy_s": (user + nice + system + irq + softirq) / CLK_TCK,
        "steal_s": steal / CLK_TCK,
    }


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name may hold spaces; ppid follows the ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while the table was read
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    including the children they have already reaped. CPU time stolen by
    other tenants of the host is not charged to a process."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE_BYTES
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the summed resident memory of this process tree (the
    Python driver, the JVM and its Python workers) until stopped."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return
