"""CPU time and peak memory of a process tree, read from ``/proc``.

The benchmark's process tree is the Python driver, the Spark JVM it
launches, and the PySpark daemon with its forked UDF workers. CPU of a
process is ``utime + stime`` plus ``cutime + cstime``: the latter hold the
CPU of children the process has already reaped, so workers that exit
between two samples are still counted (once, by the parent that reaped
them). A process that exits between two samples of a delta loses its own
time from the later sample unless its parent reaped it first; the PySpark
daemon reaps its workers, and the JVM lives for the whole run.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

TICKS = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    comm: str
    ppid: int
    cpu_s: float  # own + reaped children, seconds


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` may hold spaces and
    parentheses, so the fields after it are split from the LAST ')'."""
    head, _, rest = text.rpartition(")")
    pid_s, _, comm = head.partition(" (")
    f = rest.split()
    # f[0] = state (field 3); utime..cstime are fields 14..17
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])
    return ProcStat(
        pid=int(pid_s),
        comm=comm,
        ppid=int(f[1]),
        cpu_s=(utime + stime + cutime + cstime) / TICKS,
    )


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process exited while the tree was walked


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        text = _read(f"/proc/{name}/stat")
        if text is None:
            continue
        st = parse_stat(text)
        children.setdefault(st.ppid, []).append(st.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _read(f"/proc/{pid}/cmdline") or ""
    return "jvm" if "java" in cmd.split("\0", 1)[0] else "python_workers"


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the tree under ``root`` (default: this process), split
    into ``driver``, ``jvm`` and ``python_workers``, plus ``total``."""
    root = os.getpid() if root is None else root
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid in tree_pids(root):
        text = _read(f"/proc/{pid}/stat")
        if text is not None:
            out[_kind(pid, root)] += parse_stat(text).cpu_s
    out["total"] = sum(out.values())
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


def parse_vm_hwm_kb(status_text: str) -> int:
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0  # kernel threads and zombies have no memory lines


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the tree, in MB."""
    root = os.getpid() if root is None else root
    kb = 0
    for pid in tree_pids(root):
        text = _read(f"/proc/{pid}/status")
        if text is not None:
            kb += parse_vm_hwm_kb(text)
    return kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to others while this host's vCPUs were
    runnable (``steal`` in ``/proc/stat``), summed over vCPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / TICKS if len(fields) > 8 else 0.0


class NetClock:
    """Elapsed wall time net of hypervisor steal. On a shared virtual
    machine the host can withhold every vCPU for a while; that time shows
    in ``/proc/stat`` as steal, summed over vCPUs, and delays this host's
    work by about steal / vCPUs. ``elapsed()`` subtracts it, so a timing
    measures the program rather than its neighbours on the host."""

    def __init__(self):
        self.vcpus = os.cpu_count() or 1
        self.start()

    def start(self) -> None:
        self._t0, self._s0 = time.monotonic(), steal_s()

    def elapsed(self) -> float:
        wall = time.monotonic() - self._t0
        return wall - (steal_s() - self._s0) / self.vcpus


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])
