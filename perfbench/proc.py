"""CPU time and resident memory of the benchmark's process tree, from /proc.

The tree is the benchmark's own Python process (the Spark driver), the
JVM it launches, and every Python worker process below the JVM. Spark's
``executorCpuTime`` does not see the Python workers, which is where the
payload decode and every pandas UDF run, so their CPU is read here.

A process's CPU is ``utime + stime + cutime + cstime``: the last two hold
the CPU of children it has already reaped, so short-lived workers are
still counted after they exit, through the parent that waited for them.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children), or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm is parenthesised and may itself contain spaces or parens
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), comm, ticks / _TICK


def _mem_mb(pid: int, field: str) -> float:
    """``VmRSS`` from /proc/<pid>/status or ``Pss`` from smaps_rollup, MB."""
    path = f"/proc/{pid}/status" if field == "VmRSS:" else f"/proc/{pid}/smaps_rollup"
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcTree:
    """Snapshots of CPU seconds per role (``driver``, ``jvm``,
    ``pyworker``) and a background sampler of the tree's peak resident
    memory."""

    def __init__(self, root: int | None = None, interval_s: float = 0.5):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self.peak_by_role: dict[str, float] = {}  # at the tree's peak
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def members(self) -> dict[int, tuple[str, float]]:
        """pid → (role, cpu seconds) for the root and its descendants."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        out: dict[int, tuple[str, float]] = {}
        if self.root not in stats:
            return out
        out[self.root] = ("driver", stats[self.root][2])
        frontier = [(self.root, "driver")]
        while frontier:
            parent, parent_role = frontier.pop()
            for pid, (ppid, comm, cpu) in stats.items():
                if ppid != parent or pid in out:
                    continue
                if comm == "java":
                    role = "jvm"
                elif parent_role in ("jvm", "pyworker"):
                    role = "pyworker"
                else:
                    role = "driver"
                out[pid] = (role, cpu)
                frontier.append((pid, role))
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far per role, plus ``total``."""
        acc = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for role, cpu in self.members().values():
            acc[role] += cpu
        acc["total"] = sum(acc.values())
        return acc

    def rss_by_role(self) -> dict[str, float]:
        """Resident memory per role, MB. Python workers are forked from
        one daemon and share most pages with it, so they count their
        proportional share (PSS); reading PSS of the large JVM walks its
        page tables, so the JVM and the driver count VmRSS."""
        acc = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, (role, _) in self.members().items():
            acc[role] += _mem_mb(pid, "Pss:" if role == "pyworker" else "VmRSS:")
        return acc

    def rss_mb(self) -> float:
        return sum(self.rss_by_role().values())

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            by_role = self.rss_by_role()
            if sum(by_role.values()) > self.peak_rss_mb:
                self.peak_rss_mb = sum(by_role.values())
                self.peak_by_role = by_role

    def start(self) -> None:
        self.peak_by_role = self.rss_by_role()
        self.peak_rss_mb = sum(self.peak_by_role.values())
        self._thread = threading.Thread(target=self._sample, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
