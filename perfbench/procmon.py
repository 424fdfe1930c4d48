"""Process accounting from ``/proc`` (psutil is not a dependency).

``RssSampler`` polls the summed resident set size of the Python
processes descended from this driver: the PySpark daemon and its forked
workers, which run the sketch kernels. Summed RSS counts pages that
forked workers still share with the daemon once per process, so it is an
upper bound on their physical memory.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` from the state (field 3) on, or
    None once the process is gone. The command name before them is
    parenthesised and may contain spaces."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        if fields is None:
            continue  # the process ended while we listed
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out: list[int] = []
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def is_running(pid: int) -> bool:
    """False once ``pid`` has exited (a zombie counts as exited)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_worker_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        if not _comm(pid).startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of the processes descended from
    ``root``, including their reaped children. With paravirtual time
    accounting, time stolen by the hypervisor is not counted."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


def steal_seconds() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot,
    summed over its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


class RssSampler:
    """Peak summed worker RSS, polled on a background thread."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, python_worker_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
