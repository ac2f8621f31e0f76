"""Process-tree memory and host-noise readings from /proc.

``TreeSampler`` polls the resident memory of this process and every
descendant (the JVM and its Python workers) on a background thread and
keeps the peak of their sum. ``HostNoise`` reads /proc/stat before and
after a run to report steal time and CPU time used by processes outside
this tree — a diagnostic printed beside the metrics, never a metric.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
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
        todo.extend(children.get(pid, []))
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _spawning(pid: int, ppid: int) -> bool:
    """True for a child the JVM is still starting. The JVM starts processes
    with vfork (posix_spawn): until the child execs, it runs the JVM's
    executable in the JVM's address space, and /proc reports the JVM's
    resident memory for it as well."""
    exe = _exe(pid)
    return exe is not None and os.path.basename(exe) == "java" and exe == _exe(ppid)


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None and not _spawning(pid, int(fields[1])):
            total += int(fields[21]) * _PAGE  # rss, in pages
    return total


def tree_cpu_seconds(root: int) -> float:
    """User+system CPU of the live tree, including reaped children."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _HZ


class TreeSampler:
    """Peak resident memory of the process tree, polled every ``period`` s."""

    def __init__(self, root: int | None = None, period: float = 0.2):
        self.root = root if root is not None else os.getpid()
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _cpu_totals() -> dict[str, float]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    return {
        "busy": (user + nice + system + irq + softirq) / _HZ,
        "steal": steal / _HZ,
    }


class HostNoise:
    """Steal and other-process CPU seconds over the interval it spans."""

    def __init__(self, root: int | None = None):
        self.root = root if root is not None else os.getpid()
        self._start = _cpu_totals()
        self._own_start = tree_cpu_seconds(self.root)

    def read(self) -> dict[str, float]:
        end = _cpu_totals()
        own = tree_cpu_seconds(self.root) - self._own_start
        return {
            "steal_s": round(end["steal"] - self._start["steal"], 2),
            "other_cpu_s": round(
                max(0.0, end["busy"] - self._start["busy"] - own), 2
            ),
        }
