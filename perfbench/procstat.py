"""Process-tree CPU and memory, and host contention, read from /proc.

The Spark JVM is a child of this Python process and the Python
workers descend from the JVM, so the engine's processes are the live
descendants of this process. CPU is read around each timed engine
call; peak memory is sampled by a background thread while the measured
phase runs.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


#: seconds between memory samples
SAMPLE_INTERVAL_S = 0.25


def _ppids() -> dict[int, int]:
    """pid -> parent pid of every live process."""
    out: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(entry)] = int(fields[1])
    return out


def _descendants(ppids: dict[int, int]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in ppids.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def engine_pids() -> list[int]:
    """The Spark JVM and its Python workers: every live descendant of
    this process. The benchmark's own process is left out, so input
    generation and the DuckDB checks never count as engine CPU."""
    return _descendants(_ppids())


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def resident_pids() -> list[int]:
    """:func:`engine_pids` less the JVM's children that have not exec'd
    yet. The JVM starts helper commands with vfork; until such a child
    execs it still runs the JVM's executable in the JVM's whole address
    space, so its PSS would count the JVM a second time. Python workers
    are forked by the PySpark daemon, not the JVM, and are all kept."""
    ppids = _ppids()
    pids = _descendants(ppids)
    me = os.getpid()
    jvms = {p for p in pids if ppids.get(p) == me}
    return [p for p in pids if not (ppids[p] in jvms and _exe(p) == _exe(ppids[p]))]


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the processes, including children
    they have already reaped (a finished Python worker's time lands in
    its parent's cutime/cstime)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11..14] = utime, stime, cutime, cstime (stat fields 14..17)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: resident memory with every page
    shared between processes (copy-on-write after fork, libraries)
    split among them instead of counted in each."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return total_kb / 1024


class MemorySampler:
    """Peak summed PSS of :func:`resident_pids`, sampled every
    ``SAMPLE_INTERVAL_S`` on a daemon thread between ``start()`` and
    ``stop()``."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_mb(resident_pids()))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def start(self) -> "MemorySampler":
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()
        return self.peak_mb


def _psi_some_total_us() -> int | None:
    try:
        with open("/proc/pressure/cpu", encoding="ascii") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except (OSError, ValueError, IndexError):
        return None
    return None


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already inside user/nice
    return steal, sum(fields[:8])


class Contention:
    """Host contention over a window: the share of wall time in which
    some runnable task waited for a CPU (PSI "some"), and the share of
    CPU time stolen by the hypervisor. Recorded, never used to rescale
    a metric."""

    def __init__(self) -> None:
        self._t0 = time.monotonic()
        self._psi0 = _psi_some_total_us()
        self._ticks0 = _cpu_ticks()

    def read(self) -> dict[str, float | None]:
        wall_us = (time.monotonic() - self._t0) * 1e6
        psi1, ticks1 = _psi_some_total_us(), _cpu_ticks()
        psi = None
        if self._psi0 is not None and psi1 is not None and wall_us > 0:
            psi = (psi1 - self._psi0) / wall_us
        steal = None
        if self._ticks0 is not None and ticks1 is not None:
            d_total = ticks1[1] - self._ticks0[1]
            steal = (ticks1[0] - self._ticks0[0]) / d_total if d_total > 0 else 0.0
        return {"cpu_pressure_some": psi, "steal_share": steal}
