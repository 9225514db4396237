"""Process-tree CPU and memory, host steal and load, read from ``/proc``.

The benchmark process starts the JVM, which starts the Python worker
daemon, which forks workers; CPU and memory are summed over that whole
tree. A process's ``cutime``/``cstime`` hold the CPU of children it
has already reaped, so summing all four fields over the live tree
counts every finished worker once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process's live tree and its
    reaped children."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # after the ')' field 0 is state; utime..cstime are 11..14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def python_workers_cpu_s() -> float:
    """CPU of everything the JVM started (the Python worker daemon and
    its workers), without the JVM itself or the driver process."""
    kids = _children()
    total = 0
    for jvm in kids.get(os.getpid(), []):
        for pid in tree_pids(jvm)[1:]:
            f = _stat_fields(pid)
            if f is not None:
                total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_pss_mb() -> float:
    """Proportional set size summed over the tree: pages shared between
    processes (the forked Python workers share most of theirs) count
    once in total, where summed RSS would count them in every process."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def host_steal_s() -> float:
    """Host-wide steal seconds so far: the 8th value of the ``cpu`` line."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def load_avg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


class MemorySampler:
    """Samples the tree's resident memory (PSS) on a thread; ``peak_mb``
    is the highest sum seen. Stop it with ``close()``."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak_mb = max(self.peak_mb, tree_pss_mb())

    def close(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())
        return self.peak_mb
