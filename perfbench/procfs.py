"""Process-tree and host counters read from ``/proc`` (Linux only).

The benchmark's process tree is this Python driver, the Spark JVM it
launches and the Python workers the JVM forks. CPU time is summed over
the live tree; a reaped child's time is already folded into its
parent's ``cutime``/``cstime``, so it is counted once.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all of its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the process tree, reaped children
    included."""
    ticks = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def tree_pss_bytes() -> int:
    """Summed proportional set size of the tree. Unlike RSS it counts a
    page shared by forked processes (the Python workers, or a JVM child
    between fork and exec) once, not once per process."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakMemory:
    """Samples the tree's summed PSS every ``interval`` seconds on a
    background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes())

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_ticks() -> tuple[int, int]:
    """Host-wide (busy, steal) jiffies over all CPUs. Busy is everything
    but idle and iowait; every process on the machine counts, so busy
    cores well above this run's own share during a timed window show
    that neighbours were running inside it. Steal is time the
    hypervisor gave this machine's vCPUs to other machines."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals) - vals[3] - vals[4], vals[7]


class BusyCores:
    """Host-wide busy and stolen cores over a ``with`` block."""

    def __enter__(self) -> "BusyCores":
        self._t0, self._ticks0 = time.monotonic(), host_ticks()
        return self

    def __exit__(self, *exc) -> None:
        dt = time.monotonic() - self._t0
        (b0, s0), (b1, s1) = self._ticks0, host_ticks()
        self.value = (b1 - b0) / CLK_TCK / dt
        self.steal = (s1 - s0) / CLK_TCK / dt


def cpu_probe_ms() -> float:
    """Wall ms of a fixed single-threaded Python loop. Where vCPUs share
    physical cores with other machines, speed can halve for minutes at a
    time with no trace in loadavg or /proc/stat; this probe makes such a
    window visible."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1000


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until none of ``pids`` is alive; returns the survivors."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _stat_fields(p) is not None
                 and _stat_fields(p)[0] != "Z"]
    return alive
