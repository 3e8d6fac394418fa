"""CPU and RSS of the benchmark's process tree, read from /proc.

The JVM event log cannot see CPU spent in the Python workers that run
pandas UDFs, so the split is taken from outside the program, per
process kind:

* ``driver``: this Python process and any helper that is neither the
  JVM nor a Python worker;
* ``jvm``: the ``java`` process(es) below this one;
* ``pyworker``: Python processes below a JVM (the pyspark daemon and
  the workers it forks).

A process's CPU is ``utime + stime`` of ``/proc/<pid>/stat``. A worker
that exits between two samples loses at most one sampling period of
CPU; children's ``cutime`` is not added, since it would count a
reaped worker twice.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

KINDS = ("driver", "jvm", "pyworker")


def read_stat(pid: int) -> tuple[str, int, float, int] | None:
    """``(comm, ppid, cpu_seconds, rss_bytes)`` of one process, or None
    if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    lp, rp = raw.index("("), raw.rindex(")")
    comm = raw[lp + 1:rp]
    rest = raw[rp + 2:].split()
    # fields after comm start at field 3 (state); utime/stime are
    # fields 14/15, rss (pages) is field 24
    ppid = int(rest[1])
    cpu = (int(rest[11]) + int(rest[12])) / _TICK
    rss = int(rest[21]) * _PAGE
    return comm, ppid, cpu, rss


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM since boot
    (the ``steal`` column of ``/proc/stat``, summed over CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def _all_pids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def classify_tree(root: int, stats: dict[int, tuple]) -> dict[int, str]:
    """Kind of every process in the tree rooted at ``root``.

    ``stats`` maps pid -> ``read_stat`` tuple for every live process."""
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    kinds: dict[int, str] = {}
    stack = [(root, False)]
    while stack:
        pid, under_jvm = stack.pop()
        st = stats.get(pid)
        if st is None:
            continue
        comm = st[0]
        if pid == root:
            kind = "driver"
        elif comm == "java":
            kind = "jvm"
        elif under_jvm and comm.startswith("python"):
            kind = "pyworker"
        else:
            kind = "driver"
        kinds[pid] = kind
        for c in children.get(pid, ()):
            stack.append((c, under_jvm or kind == "jvm"))
    return kinds


class TreeSampler:
    """Samples the CPU and RSS of this process's tree on a background
    thread.

    Use as a context manager around the timed window; ``result()`` gives
    CPU seconds per kind spent inside the window and the peak summed
    RSS seen by any sample."""

    def __init__(self, period_s: float = 0.2):
        self.root = os.getpid()
        self.period_s = period_s
        self._first: dict[int, float] = {}
        self._last: dict[int, tuple[str, float]] = {}
        self._peak_rss = 0
        self._samples = 0
        self._steal = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        stats = {}
        for pid in _all_pids():
            st = read_stat(pid)
            if st is not None:
                stats[pid] = st
        kinds = classify_tree(self.root, stats)
        rss = 0
        for pid, kind in kinds.items():
            _comm, _ppid, cpu, r = stats[pid]
            # a pid first seen after the window opened was born inside
            # it: all of its CPU belongs to the window
            self._first.setdefault(pid, cpu if self._samples == 0 else 0.0)
            self._last[pid] = (kind, cpu)
            rss += r
        self._peak_rss = max(self._peak_rss, rss)
        self._samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self._steal0 = steal_s()
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        self._steal = steal_s() - self._steal0

    def result(self) -> dict:
        cpu = {k: 0.0 for k in KINDS}
        for pid, (kind, last) in self._last.items():
            cpu[kind] += max(0.0, last - self._first[pid])
        return {
            "cpu_s": cpu,
            "peak_rss_bytes": self._peak_rss,
            "samples": self._samples,
            # host noise: CPU taken by other tenants during the window
            "steal_s": self._steal,
        }
