"""Process-tree CPU and memory probes, and host steal, read from /proc.

The benchmark's process tree is the driver (this Python process), the JVM
it launches, the PySpark daemon and its Python workers. CPU time of the
tree is the sum over live members of utime + stime + cutime + cstime:
an exited worker's CPU is folded into its parent's cutime/cstime when the
parent reaps it, so a difference of two readings counts every process
that ran in between, exited workers included.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    return raw[raw.rfind(")") + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    """stat fields of ``root`` and every live descendant, by pid."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie does not)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_pids(root: int) -> list[int]:
    return list(_tree(root))


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants, reaped
    ones included."""
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
               for f in _tree(root).values()) / _TICK


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited between listing and reading
        pass
    return 0


def tree_mem_mb(root: int) -> float:
    """Resident memory of ``root`` and its live descendants, each page
    counted once: forked Python workers share their parent's pages."""
    return sum(_pss_kb(pid) for pid in _tree(root)) * 1024 / 1e6


def host_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


class MemSampler:
    """Samples the tree's resident memory (``tree_mem_mb``) on a thread;
    ``peak_mb`` is the highest value seen between ``start`` and ``stop``."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, tree_mem_mb(self.root))
            self._halt.wait(self.interval_s)

    def start(self) -> None:
        self.peak_mb = tree_mem_mb(self.root)
        self._halt.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._halt.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_mem_mb(self.root))
        return self.peak_mb
