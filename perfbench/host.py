"""Process-tree and host readings taken from /proc (psutil is not installed).

The benchmark's process tree is the Python driver, the JVM it launches and
the Python UDF workers that JVM forks. CPU and resident memory are summed
over every live descendant of this process.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may itself contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu() -> dict[int, float]:
    """CPU seconds per live process of the tree, reaped children included
    (utime + stime + cutime + cstime), so a worker that exits and is waited
    for by a tree member keeps counting."""
    out = {}
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            out[pid] = sum(int(x) for x in fields[11:15]) / _TICK
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the tree used between two :func:`tree_cpu` readings.
    A process born in between counts from zero."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def reset_peak_rss() -> None:
    """Reset every tree process's VmHWM to its current RSS (clear_refs 5)."""
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over the tree, in MB (10^6 bytes)."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb * 1024 / 1e6


def seconds_since_process_start() -> float:
    """Wall seconds since this process was started, per the kernel."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


class HostDrift:
    """Steal and iowait seconds accumulated host-wide, and the load average,
    over a run. Diagnostic only: the hypervisor throttles sustained load, and
    these readings show when a slow run coincided with it."""

    def __init__(self) -> None:
        self._start = self._cpu_line()
        self._load_start = os.getloadavg()

    @staticmethod
    def _cpu_line() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def finish(self) -> dict:
        end = self._cpu_line()
        # /proc/stat cpu columns: user nice system idle iowait irq softirq steal
        return {
            "steal_s": (end[7] - self._start[7]) / _TICK,
            "iowait_s": (end[4] - self._start[4]) / _TICK,
            "loadavg_start": list(self._load_start),
            "loadavg_end": list(os.getloadavg()),
        }


def stop_tree(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is still alive after the
    timeout and wait for that too."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in alive):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
