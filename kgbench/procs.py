"""Process-level cost: CPU and peak RSS from /proc, JIT and GC from JMX."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may contain spaces: fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_ticks(pids: list) -> dict:
    """{pid: utime+stime} in clock ticks; exited pids are left out."""
    out = {}
    for pid in pids:
        try:
            f = _stat(pid)
        except OSError:
            continue
        out[pid] = int(f[11]) + int(f[12])
    return out


def cpu_delta_s(before: dict, after: dict) -> float:
    """CPU spent between two :func:`cpu_ticks` samples by the processes
    alive at the second one (a process started in between counts whole)."""
    return sum(t - before.get(pid, 0) for pid, t in after.items()) / _TICK


def peak_rss_mb(pids: list) -> float:
    """Sum of each process's RSS high-water mark (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb * 1024 / 1e6


class EngineProcs:
    """The JVM this process launched and the Python workers below it."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        mf = self._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.jvm_pid = int(mf.getRuntimeMXBean().getPid())

    def pids(self) -> list:
        return [self.jvm_pid, *descendants(self.jvm_pid)]

    def sample(self) -> dict:
        """Counters to subtract with :func:`delta`."""
        return {
            "ticks": cpu_ticks(self.pids()),
            "jit_s": self._jit.getTotalCompilationTime() / 1e3,
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1e3,
        }

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self.pids())

    def delta(self, a: dict, b: dict) -> dict:
        """CPU of the JVM and its Python workers, Python alone, JIT, GC."""
        py_after = {p: t for p, t in b["ticks"].items() if p != self.jvm_pid}
        return {
            "cpu_s": cpu_delta_s(a["ticks"], b["ticks"]),
            "python_cpu_s": cpu_delta_s(a["ticks"], py_after),
            "jit_s": b["jit_s"] - a["jit_s"],
            "gc_s": b["gc_s"] - a["gc_s"],
        }
